"""Training-data pipeline suite: dedup, similarity, text analysis,
multimodal — the driver-mandated extensions beyond the reference surface,
oracle-checked against DuckDB where SQL can express the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erpl_web_spark.operators.dedup import (
    allpairs_jaccard_join,
    exact_dedup_report,
    fingerprint_documents,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from erpl_web_spark.operators.multimodal import decode_media, documents_as_media
from erpl_web_spark.operators.dedup import embedding_near_dup_pairs
from erpl_web_spark.operators.similarity import (
    ann_top_k_ivf,
    ann_top_k_lsh,
    cosine_top_k,
    cosine_top_k_blas,
    dot_expr,
    norm_expr,
)
from erpl_web_spark.operators.text import (
    STOPWORDS,
    BPE_TOKEN_RE,
    with_language_id,
    with_quality_score,
    with_text_stats,
)
from erpl_web_spark.suite import load, local_rows, register

# DuckDB fragments shared by the text oracles (whitespace tokens of the
# lowercased text, empty strings removed — mirrors text.tokens_expr).
_SQL_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
_SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# DuckDB rendering of operators.text.normalize_text over a `text`
# column — shared by the text_normalize oracle and the randomized
# cross-engine property test (tests/test_properties.py)
_SQL_NORMALIZE_EXPR = """trim(regexp_replace(
               regexp_replace(
                 translate(text,
                   chr(8216) || chr(8217) || chr(8220) || chr(8221)
                     || chr(8211) || chr(8212) || chr(160),
                   chr(39) || chr(39) || chr(34) || chr(34) || '--' || ' '),
                 '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
               '[ \\t]+', ' ', 'g'))"""

# DuckDB rendering of operators.text.with_quality_score's keep rule
# (>= 3 of 4 heuristics over the ``text`` column of the enclosing FROM) —
# shared by the curation-facade composition oracles.
_SQL_QUALITY_KEEP = f"""((len({_SQL_TOKS}) >= 5 AND len({_SQL_TOKS}) <= 100000)::INT
              + (CAST(list_sum(list_transform({_SQL_TOKS}, t -> LENGTH(t))) AS DOUBLE)
                   / GREATEST(len({_SQL_TOKS}), 1) >= 2.0
                 AND CAST(list_sum(list_transform({_SQL_TOKS}, t -> LENGTH(t))) AS DOUBLE)
                   / GREATEST(len({_SQL_TOKS}), 1) <= 12.0)::INT
              + (CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE)
                   / GREATEST(LENGTH(text), 1) <= 0.2)::INT
              + (CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                   / GREATEST(LENGTH(text), 1) <= 0.3)::INT) >= 3"""


@register(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text
      FROM documents WHERE doc_id < 10
    )
    SELECT md5({_SQL_NORM}) AS digest,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keep_id
    FROM corpus
    GROUP BY 1
    """,
    headline=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: shuffle on a 16-byte digest, never on document
    bodies. The corpus is augmented with re-keyed copies of the first
    10 documents (max(doc_id)+1 offset, collision-free at any scale) so
    the grouping is NON-VACUOUS at every SF — the raw test corpus has
    no exact duplicates, which left n_copies constant at 1 and the
    keeper rule (min id per digest) unexercised by the driver check
    (round-8 vacuity audit, tools/vacuity_audit.py)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.agg((F.max("doc_id") + F.lit(1)).alias("_base"))
    planted = (
        docs.where(F.col("doc_id") < 10)
        .crossJoin(F.broadcast(base))
        .select((F.col("doc_id") + F.col("_base")).alias("doc_id"), "text")
    )
    return exact_dedup_report(docs.unionByName(planted), "doc_id", "text")


@register(
    "dedup_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({_SQL_NORM}) AS fp_md5,
           sha256({_SQL_NORM}) AS fp_sha256
    FROM documents
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint_documents(load(spark, sf_dir, "documents", spread=True), "doc_id", "text").select(
        "doc_id", "fp_md5", "fp_sha256"
    )


_SQL_SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(len(__toks) - 2, 0) + 1), "
    "i -> array_to_string(__toks[i:i+2], ' ')))"
)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS __toks
      FROM documents
    ), sh AS (
      SELECT doc_id, lang, {_SQL_SHINGLES} AS sh FROM toks
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3
    """,
    # Correctness-only: exact pairwise Jaccard is inherently quadratic; the
    # benchmarked (scale-path) dedup operator is dedup_minhash_lsh.
    headline=False,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs, blocked by language — the
    quadratic cost stays inside blocks. At real scale the MinHash-LSH
    variant generates candidates; this is the precise verifier."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["lang"], shingle_k=3, threshold=0.3
    )


@register(
    "dedup_allpairs_prefix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS __toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks
      WHERE len({_SQL_SHINGLES}) > 0
    ), ex AS (
      SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS DOUBLE)
             / (any_value(a.n) + any_value(b.n) - COUNT(*)) AS jaccard
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING CAST(COUNT(*) AS DOUBLE)
             / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
    """,
    headline=False,
)
def dedup_allpairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global Jaccard >= 0.5 pairs via prefix filtering (AllPairs)
    — no lang blocking, no MinHash approximation; the candidate join
    keys are each document's rarest shingles, so key fan-out stays small
    at any corpus size. The oracle is the independent inverted-index
    brute force: explode shingles, count shared shingles per pair,
    exact Jaccard from the intersection count — pairs sharing zero
    shingles have Jaccard 0 and cannot reach the threshold, so both
    sides enumerate identical pair sets. Values must agree exactly
    (count ratios, no float summation)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return allpairs_jaccard_join(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5
    )


@register("dedup_minhash_lsh", oracle=None, headline=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+LSH(16 bands) near-dup pairs with exact Jaccard verify.

    Not SQL-expressible compactly (seeded xxhash64 banding) -> rows-only
    driver check; the exact-Jaccard verification step bounds false
    positives at 0, and dedup_ngram_jaccard oracle-checks the underlying
    similarity math. The full output is a CHECKED CONTRACT regardless:
    exact row sets at sf0.001/sf0.01 and the sf0.1 count are pinned as
    golden fixtures (tests/fixtures/golden/dedup_minhash_lsh.json,
    asserted by tests/test_golden_fixtures.py; regenerate deliberately
    via tools/make_golden.py).
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    return minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5)


# Planted near-dup twins shared by the md5 oracle-twin entries
# (minhash, simhash): every 10th doc gets a copy with every 9th token
# dropped — the Spark-side construction is _token_drop_twin_corpus.
_SQL_TWIN_CTES = f"""base AS (SELECT doc_id, text FROM documents),
    twin AS (
      SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM base) AS doc_id,
             array_to_string(
               list_filter({_SQL_TOKS}, (t, i) -> (i - 1) % 9 <> 0), ' ') AS text
      FROM base WHERE doc_id % 10 = 0),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twin),"""

# The md5-mode MinHash+LSH+verify pair chain over the twin corpus,
# ending in mh_pairs(id_a, id_b, jaccard >= 0.5) — shared by the pair
# twin (dedup_minhash_lsh_md5) and the clustering twin
# (dedup_cluster_minhash_md5).
_SQL_MINHASH_MD5_PAIRS = f"""
    toks AS (SELECT doc_id, {_SQL_TOKS} AS __toks FROM corpus),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shs FROM toks),
    hs AS (SELECT doc_id, list_distinct(list_transform(shs,
             s -> CAST('0x' || substring(md5(s), 1, 12) AS BIGINT))) AS hs
           FROM sh),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM hs),
    sig AS (SELECT doc_id, g.d,
             MIN(CAST('0x' || substring(
                   md5(CAST(g.d AS VARCHAR) || ':' || CAST(h AS VARCHAR)),
                   1, 12) AS BIGINT)) AS mh
            FROM ex, (SELECT unnest(range(0, 64)) AS d) g
            GROUP BY doc_id, g.d),
    band AS (SELECT doc_id, d // 4 AS b,
              string_agg(CAST(mh AS VARCHAR), ',' ORDER BY d) AS key
             FROM sig GROUP BY doc_id, d // 4),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM band a JOIN band b
               ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
    mh_pairs AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
               / len(list_distinct(list_concat(ha.hs, hb.hs))) AS jaccard
      FROM cand c JOIN hs ha ON ha.doc_id = c.id_a
                  JOIN hs hb ON hb.doc_id = c.id_b
      WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
               / len(list_distinct(list_concat(ha.hs, hb.hs))) >= 0.5)"""


@register(
    "dedup_minhash_lsh_md5",
    oracle=f"""
    WITH {_SQL_TWIN_CTES}{_SQL_MINHASH_MD5_PAIRS}
    SELECT id_a, id_b, jaccard FROM mh_pairs
    """,
)
def dedup_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash(64)+LSH(16 bands)+exact-verify pipeline under
    ``hash_mode="md5"`` — the oracle twin that removes the
    rows-only caveat from the MinHash family (VERDICT r8 Next #6): the
    48-bit md5 hash family is reproduced bit-identically in DuckDB, so
    shingle hashing, all 64 seeded signature minima, band-tuple
    collisions (the oracle groups by the raw 4-tuples; the engine's
    xxhash64 band KEY only names them) and the exact-Jaccard verify are
    value-hash-checked end-to-end, pair spectrum included. Twins with
    every 9th token dropped are planted for every 10th doc (shingle
    Jaccard ~0.7-0.95 — varied, non-vacuous). The xxhash64 production
    path (cheaper, 64-bit) keeps its golden pin in
    ``dedup_minhash_lsh``; this entry proves the PIPELINE, that one
    pins the production hash family."""
    from erpl_web_spark.operators.dedup import minhash_lsh_pairs

    corpus = _token_drop_twin_corpus(load(spark, sf_dir, "documents", spread=True))
    return minhash_lsh_pairs(
        corpus, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
        hash_mode="md5",
    )


def _token_drop_twin_corpus(docs: DataFrame) -> DataFrame:
    """documents + a near-dup twin (every 9th token dropped) for every
    10th doc, ids offset past max(doc_id) — the planted fixture the md5
    oracle twins (minhash, simhash) share with their oracles' ``twin``
    CTE. Index positions count NON-EMPTY tokens only (the oracle's
    list_filter index runs over the already-filtered token list)."""
    base_max = docs.agg(F.max("doc_id")).collect()[0][0]
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    twins = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + base_max + 1).alias("doc_id"),
        F.array_join(
            F.filter(toks, lambda t, i: i % 9 != 0), " "
        ).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(twins)


# --------------------------------------------------------------------------
# URL canonicalization + URL-keyed dedup (CCNet/RefinedWeb stage 0).
# The documents table carries no URL column, so a messy URL is PLANTED
# per doc from one SQL fragment both engines evaluate VERBATIM (the
# fixture is shared; the CANONICALIZATION is implemented independently
# per engine — that is what the value hash checks). Group key
# g = doc_id^2 mod 97 (quadratic residues: group sizes VARY, so n_dups
# is non-constant — vacuity by construction); per-doc noise: scheme/
# host case, a default port, a trailing slash, scrambled query-param
# order, planted utm_* tracking params, a fragment. Groups with
# g % 10 = 9 exercise the empty-path + absent-query + tracking-only-
# query edges.
# --------------------------------------------------------------------------

_SQL_URL_G = "(doc_id * doc_id) % 97"
# Scheme-less slice (doc_id % 13 = 12): NOT a '://' URL, so the
# canonicalizer passes it through VERBATIM — case noise, the %7E
# escape and the utm param all survive untouched (each distinct
# string is its own dedup key). Percent noise on the schemed slice:
# '/%70/' decodes to '/p/' (unreserved: same group as the plain
# spelling), 'x=%2f' vs 'x=%2F' uppercase to the same reserved escape
# (g-stable param, so groups are preserved), and a bare valueless
# 'utm_campaign' (doc noise) is dropped by the (=|$) tracking rule.
_SQL_URL = """
    (CASE WHEN doc_id % 13 = 12
     THEN 'Site' || CAST(g AS STRING) || '.example/p%7E?utm_source=x'
     ELSE
    (CASE WHEN g % 2 = 0 THEN 'HTTP' ELSE 'https' END)
    || '://'
    || (CASE WHEN doc_id % 4 < 2 THEN 'WWW.Site' || CAST(g % 5 AS STRING) || '.COM'
             ELSE 'www.site' || CAST(g % 5 AS STRING) || '.com' END)
    || (CASE WHEN doc_id % 3 = 0
             THEN CASE WHEN g % 2 = 0 THEN ':80' ELSE ':443' END
             ELSE '' END)
    || (CASE WHEN g % 10 = 9
             THEN CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
             ELSE (CASE WHEN doc_id % 11 = 3 THEN '/%70/' ELSE '/p/' END)
                  || CAST(g AS STRING)
                  || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END END)
    || (CASE WHEN g % 10 = 9
             THEN CASE WHEN doc_id % 3 = 1 THEN '?utm_source=feed' ELSE '' END
             ELSE '?' || (CASE WHEN doc_id % 3 = 1 THEN 'utm_source=feed&' ELSE '' END)
                  || (CASE WHEN doc_id % 2 = 0 THEN 'a=1&b=2' ELSE 'b=2&a=1' END)
                  || (CASE WHEN g % 4 = 1
                       THEN CASE WHEN doc_id % 2 = 0 THEN '&x=%2f' ELSE '&x=%2F' END
                       ELSE '' END)
                  || (CASE WHEN doc_id % 9 = 4 THEN '&utm_campaign' ELSE '' END) END)
    || (CASE WHEN doc_id % 7 = 0 THEN '#s' || CAST(doc_id AS STRING) ELSE '' END)
     END)
"""

# DuckDB rendering of text.canonicalize_url_expr over the planted urls
# CTE — mirrors the operator rule-for-rule with DuckDB's own string/
# list functions (string_split indexing is 1-based; [2] is NULL when
# the '?' is absent, same contract as Spark's F.get).
# canonicalization chain from the percent-decoding step onward — takes
# ANY relation named `urls(doc_id, n_chars, url)`, so the randomized
# cross-engine property test (tests/test_properties.py) can drive it
# with generated URLs while the suite entries keep the planted fixture
_SQL_CANON_FROM_URLS = f"""
    pct AS (
      SELECT doc_id, n_chars, url,
             string_split(url, '%')[1] ||
             coalesce(array_to_string(list_transform(string_split(url, '%')[2:],
               x -> CASE
                 WHEN NOT regexp_matches(x, '^[0-9A-Fa-f]{{2}}') THEN '%' || x
                 WHEN regexp_matches(chr(CAST(('0x' || substring(x, 1, 2)) AS INTEGER)),
                                     '^[0-9A-Za-z._~-]$')
                   THEN chr(CAST(('0x' || substring(x, 1, 2)) AS INTEGER)) || substring(x, 3)
                 ELSE '%' || upper(substring(x, 1, 2)) || substring(x, 3)
               END), ''), '') AS nurl
      FROM urls),
    parts AS (
      SELECT doc_id, n_chars, url,
             lower(regexp_extract(nurl, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
             string_split(regexp_replace(nurl, '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''), '#')[1] AS nofrag
      FROM pct),
    hp AS (
      SELECT *, regexp_extract(nofrag, '^([^/?]+)', 1) AS hostport,
             regexp_replace(nofrag, '^[^/?]+', '') AS tail
      FROM parts),
    comps AS (
      SELECT *,
             regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
             regexp_replace(regexp_replace(lower(hostport), ':[0-9]+$', ''),
                            '^www\\.', '') AS host,
             string_split(tail, '?')[1] AS path,
             string_split(tail, '?')[2] AS query
      FROM hp),
    canon AS (
      SELECT doc_id, n_chars, url,
             CASE WHEN scheme = '' THEN url ELSE
             scheme || '://' || host
             || CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                          OR (scheme = 'https' AND port = '443'))
                     THEN ':' || port ELSE '' END
             || CASE WHEN regexp_replace(path, '/$', '') = '' THEN '/'
                     ELSE regexp_replace(path, '/$', '') END
             || CASE WHEN q <> '' THEN '?' || q ELSE '' END
             END AS canonical_url
      FROM (SELECT *,
              array_to_string(list_sort(list_filter(
                string_split(coalesce(query, ''), '&'),
                x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=&]*|fbclid|gclid)(=|$)'))),
                '&') AS q
            FROM comps))
"""

_SQL_URL_CANON_CTES = f"""
    raw AS (SELECT doc_id, n_chars, {_SQL_URL_G} AS g FROM documents),
    urls AS (SELECT doc_id, n_chars, {_SQL_URL} AS url FROM raw),
{_SQL_CANON_FROM_URLS}"""


def _planted_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + the planted url column (the shared fixture fragment,
    evaluated by Spark via F.expr — byte-identical to the oracle's).
    Registry-persisted (r14): the url_index entries slice this frame
    into 2-3 batch filters, each of whose apply-side actions evaluated
    the scan + URL-expr chain from scratch; the natural_docs() idiom
    (released by release_tracked) makes it one evaluation."""
    from erpl_web_spark.operators._cache import track_persist

    return track_persist(
        load(spark, sf_dir, "documents", spread=True)
        .withColumn("g", F.expr(_SQL_URL_G))
        .withColumn("url", F.expr(_SQL_URL)),
        "_planted_urls",
    )


@register(
    "text_url_canonicalize",
    oracle=f"""
    WITH {_SQL_URL_CANON_CTES}
    SELECT doc_id, url, canonical_url FROM canon
    """,
)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL canonical form (text.canonicalize_url_expr): percent-
    encoding normalization (unreserved escapes decoded, remaining hex
    uppercased — RFC 3986 §6.2.2), lowercase scheme/host, www. strip,
    default-port strip, fragment drop, trailing-slash + empty-path
    normalization, tracking-param drop (including bare valueless utm
    params), query-param sort; scheme-less input passes through
    verbatim. Pure narrow map — no shuffle, codegen end to
    end; the value hash proves every rule on every planted variant
    (case noise, default ports, utm params, scrambled order,
    fragments, path edges, %70/%2f escapes, a scheme-less slice).
    Reference: erpl-web normalizes URLs only
    for HTTP dispatch (url merge, core/url.py parity — README.md
    HttpUrl); the dedup-grade canonicalizer is pipeline surface the
    reference lacks."""
    from erpl_web_spark.operators.text import canonicalize_url_expr

    return _planted_urls(spark, sf_dir).select(
        "doc_id", "url", canonicalize_url_expr("url").alias("canonical_url")
    )


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH {_SQL_URL_CANON_CTES}
    SELECT canonical_url, doc_id AS keep_id, n_dups, best_quality FROM (
      SELECT canonical_url, doc_id, n_chars,
             COUNT(*) OVER (PARTITION BY canonical_url) AS n_dups,
             MAX(n_chars) OVER (PARTITION BY canonical_url) AS best_quality,
             ROW_NUMBER() OVER (PARTITION BY canonical_url
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM canon
    ) WHERE rn = 1
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup election over the canonicalized URLs: one keeper
    per canonical URL — highest n_chars, ties to the smaller doc_id
    (dedup.url_dedup_report). ONE partial-aggregable groupBy whose
    shuffle carries (canonical_url, doc_id, n_chars) only — max_by
    over an ordering struct, never a per-group row_number window (a
    hot URL at crawl scale would concentrate in one task). The oracle
    uses the window formulation on purpose: same election, different
    algorithm, so agreement is evidence."""
    from erpl_web_spark.operators.dedup import url_dedup_report

    return url_dedup_report(
        _planted_urls(spark, sf_dir), url_col="url",
        id_col="doc_id", quality_col="n_chars",
    )


@register(
    "pipeline_url_index_batches",
    oracle=f"""
    WITH {_SQL_URL_CANON_CTES},
    b AS (
      SELECT doc_id, url, canonical_url,
             CASE WHEN doc_id < 40 THEN 0 ELSE 1 END AS b
      FROM canon
    ), k0 AS (
      SELECT doc_id, url, canonical_url FROM (
        SELECT doc_id, url, canonical_url,
               ROW_NUMBER() OVER (PARTITION BY canonical_url
                                  ORDER BY doc_id) AS rn
        FROM b WHERE b = 0
      ) WHERE rn = 1
    ), k1 AS (
      SELECT doc_id, url, canonical_url FROM (
        SELECT doc_id, url, canonical_url,
               ROW_NUMBER() OVER (PARTITION BY canonical_url
                                  ORDER BY doc_id) AS rn
        FROM b WHERE b = 1
      ) WHERE rn = 1
        AND canonical_url NOT IN (SELECT canonical_url FROM k0)
    )
    SELECT doc_id, url, canonical_url FROM k0
    UNION ALL
    SELECT doc_id, url, canonical_url FROM k1
    """,
)
def pipeline_url_index_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental URL-dedup index (operators.url_index) replayed
    as a deterministic two-batch sequence over the planted messy URLs:
    docs with id < 40 arrive as batch 0, the rest as batch 1; each
    batch keeps one doc per canonical URL not claimed by an earlier
    batch (min id within the batch) and commits its claim increment
    under the manifest protocol. The oracle replays both phases,
    pinning the keep-first contract BY VALUE on both sides of the
    seam: 40 of the 49 canonical classes (doc_id^2 mod 97) are claimed
    by batch 0 — their batch-1 members are DROPPED — and the other 9
    classes are first seen in batch 1, which claims them with its own
    min-id election (the 40-doc batch 0 has no internal collisions, so
    ITS election is exercised by batch 1 / dedup_url_canonical, stated
    plainly). A parity split would have been vacuous: x and 97-x have
    opposite parities, so every class spans both parities and batch 1
    would never claim. Same stateless temp-index + driver-collect
    pattern (and the same suite-corpus-only caveat) as
    pipeline_line_index_batches."""
    import shutil
    import tempfile

    from erpl_web_spark.operators.url_index import (
        read_kept_batches,
        url_index_apply,
    )

    urls = _planted_urls(spark, sf_dir).select("doc_id", "url")
    path = tempfile.mkdtemp(prefix="urlidx_suite_")
    try:
        url_index_apply(urls.where(F.col("doc_id") < 40), 0, path)
        url_index_apply(urls.where(F.col("doc_id") >= 40), 1, path)
        rows = read_kept_batches(spark, path).collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_rows(spark, rows, "doc_id long, url string, canonical_url string")


@register(
    "pipeline_url_index_bloom",
    oracle=f"""
    WITH {_SQL_URL_CANON_CTES},
    b AS (
      SELECT doc_id, url, canonical_url,
             CASE WHEN doc_id < 40 THEN 0
                  WHEN doc_id < 45 THEN 1
                  ELSE 2 END AS b
      FROM canon
    ), k0 AS (
      SELECT doc_id, url, canonical_url FROM (
        SELECT doc_id, url, canonical_url,
               ROW_NUMBER() OVER (PARTITION BY canonical_url
                                  ORDER BY doc_id) AS rn
        FROM b WHERE b = 0
      ) WHERE rn = 1
    ), k1 AS (
      SELECT doc_id, url, canonical_url FROM (
        SELECT doc_id, url, canonical_url,
               ROW_NUMBER() OVER (PARTITION BY canonical_url
                                  ORDER BY doc_id) AS rn
        FROM b WHERE b = 1
      ) WHERE rn = 1
        AND canonical_url NOT IN (SELECT canonical_url FROM k0)
    ), k2 AS (
      SELECT doc_id, url, canonical_url FROM (
        SELECT doc_id, url, canonical_url,
               ROW_NUMBER() OVER (PARTITION BY canonical_url
                                  ORDER BY doc_id) AS rn
        FROM b WHERE b = 2
      ) WHERE rn = 1
        AND canonical_url NOT IN (SELECT canonical_url FROM k0)
        AND canonical_url NOT IN (SELECT canonical_url FROM k1)
    )
    SELECT doc_id, url, canonical_url FROM k0
    UNION ALL
    SELECT doc_id, url, canonical_url FROM k1
    UNION ALL
    SELECT doc_id, url, canonical_url FROM k2
    """,
)
def pipeline_url_index_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_url_index_batches with the Bloom pre-filter ON and a
    THIRD batch, so the driver's value hash covers the composed path
    end to end: per-batch Bloom increment build + manifest commit, the
    coverage/geometry safety check, the probe split (batch 1 probes
    one committed increment, batch 2 the bit_or UNION of two — masks
    OR across batches == the Bloom of the union), and the anti-join
    that only possible-members reach. The oracle knows NOTHING about
    Bloom filters — it replays plain keep-first semantics over three
    phases — so hash equality IS the kept-set-invariance contract (the
    r10-proven no-false-negative side is what licenses routing
    definitely-new digests around the join). Seams at 40/45: batch 0
    claims 40 canonical classes, batch 1 first-claims 5 (its ids 40-44
    are fresh quadratic residues), batch 2 the remaining 4 and drops
    members of every earlier class — both paths of the probe split are
    non-vacuous in every batch. m_bits=4096/k=3 over <= ~100 claims:
    FP rate irrelevant by design (FPs only route a probe through the
    anti-join it would have taken anyway)."""
    import shutil
    import tempfile

    from erpl_web_spark.operators.url_index import (
        read_kept_batches,
        url_index_apply,
    )

    urls = _planted_urls(spark, sf_dir).select("doc_id", "url")
    path = tempfile.mkdtemp(prefix="urlidx_bloom_suite_")
    d = F.col("doc_id")
    try:
        for i, part in enumerate(
            [urls.where(d < 40), urls.where((d >= 40) & (d < 45)), urls.where(d >= 45)]
        ):
            url_index_apply(part, i, path, bloom_m_bits=4096, bloom_k=3)
        rows = read_kept_batches(spark, path).collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_rows(spark, rows, "doc_id long, url string, canonical_url string")


@register("dedup_simhash", oracle=None)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (Hamming <= 3 via 16-bit band pigeonhole).

    Rows-only driver check (seeded hashing); full output pinned as a
    golden fixture (tests/fixtures/golden/dedup_simhash.json, asserted
    by tests/test_golden_fixtures.py). The md5-mode PIPELINE proof is
    dedup_simhash_md5."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3)


@register(
    "dedup_simhash_md5",
    oracle=f"""
    WITH {_SQL_TWIN_CTES}
    tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS t FROM corpus),
    th AS (SELECT doc_id,
                  CAST('0x' || substring(md5(t), 1, 12) AS BIGINT) AS h
           FROM tok),
    votes AS (
      SELECT doc_id, g.b,
             SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, (SELECT unnest(range(0, 48)) AS b) g
      GROUP BY doc_id, g.b),
    sims AS (
      SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sh
      FROM votes GROUP BY doc_id),
    banded AS (
      SELECT doc_id, sh, g.c AS c, (sh >> (g.c * 6)) & 63 AS key
      FROM sims, (SELECT unnest(range(0, 8)) AS c) g),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sa, b.sh AS sb
      FROM banded a JOIN banded b
        ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 7
    """,
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL SimHash+band+popcount-verify pipeline under
    ``hash_mode="md5"`` — the oracle twin that removes the rows-only
    caveat from the SimHash family (the dedup_minhash_lsh_md5
    pattern): 48-bit md5 token hashes, all 48 bit votes and sign bits,
    the 8x6-bit band pigeonhole (radius 7 needs H+1=8 bands; recall
    within the radius is GUARANTEED, so the candidate set is
    deterministic, not seeded) and the xor-popcount verify are
    rebuilt bit-identically in DuckDB and value-hash-checked end to
    end. The planted token-drop twins land at hamming 1-9 under this
    family (measured at sf0.01), so the pair spectrum — including
    twins just OUTSIDE the radius — is non-vacuous. The xxhash64
    production path keeps its golden pin in dedup_simhash."""
    corpus = _token_drop_twin_corpus(load(spark, sf_dir, "documents", spread=True))
    return simhash_near_dup_pairs(
        corpus, "doc_id", "text", max_hamming=7, hash_mode="md5"
    )


@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(LENGTH(text) AS INT) AS stat_chars,
           CAST(len({_SQL_TOKS}) AS INT) AS stat_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS stat_bpe_tokens,
           CAST(list_sum(list_transform({_SQL_TOKS}, t -> LENGTH(t))) AS DOUBLE)
             / GREATEST(len({_SQL_TOKS}), 1) AS stat_avg_token_len
    FROM documents
    """,
    headline=True,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_text_stats(load(spark, sf_dir, "documents", spread=True))
    return d.select(
        "doc_id", "stat_chars", "stat_tokens", "stat_bpe_tokens", "stat_avg_token_len"
    )


def _lang_counts_sql() -> tuple[str, str]:
    counts = []
    for lang, words in STOPWORDS.items():
        lit = ", ".join(f"'{w}'" for w in words)
        counts.append(
            f"len(list_filter({_SQL_TOKS}, t -> list_contains([{lit}], t))) AS c_{lang}"
        )
    case = "CASE WHEN best = 0 THEN 'und' " + " ".join(
        f"WHEN c_{lang} = best THEN '{lang}'" for lang in STOPWORDS
    ) + " END"
    return ", ".join(counts), case


_COUNTS, _CASE = _lang_counts_sql()


@register(
    "text_lang_id",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, {_COUNTS} FROM documents
    ), b AS (
      SELECT doc_id, c_en, c_de, c_fr, c_es,
             GREATEST(c_en, c_de, c_fr, c_es) AS best FROM c
    )
    SELECT doc_id, {_CASE} AS pred_lang FROM b
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language heuristic (argmax, fixed tie order)."""
    return with_language_id(load(spark, sf_dir, "documents", spread=True)).select("doc_id", "pred_lang")


@register(
    "text_quality",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             len({_SQL_TOKS}) AS toks,
             CAST(list_sum(list_transform({_SQL_TOKS}, t -> LENGTH(t))) AS DOUBLE)
               / GREATEST(len({_SQL_TOKS}), 1) AS avg_len,
             CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS punct_ratio,
             CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS digit_ratio
      FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT (SELECT MAX(doc_id) + 1 FROM documents) + v.off, v.t
        FROM (VALUES (0, '87 55 13'), (1, 'a b'), (2, '!! ?? ,,')) v(off, t)
      )
    )
    SELECT doc_id,
           CAST(((toks >= 5 AND toks <= 100000)::INT
                 + (avg_len >= 2.0 AND avg_len <= 12.0)::INT
                 + (punct_ratio <= 0.2)::INT
                 + (digit_ratio <= 0.3)::INT) AS DOUBLE) / 4.0 AS quality_score,
           (CAST(((toks >= 5 AND toks <= 100000)::INT
                 + (avg_len >= 2.0 AND avg_len <= 12.0)::INT
                 + (punct_ratio <= 0.2)::INT
                 + (digit_ratio <= 0.3)::INT) AS DOUBLE) / 4.0 >= 0.75) AS quality_keep
    FROM s
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate. Three planted low-quality rows (digit
    flood / too short / punct flood, re-keyed past max(doc_id)) make
    the FALSE path of quality_keep non-vacuous at every SF — the raw
    corpus passes all four heuristics everywhere, which left
    quality_score constant at 1.0 in the driver check (round-8
    vacuity audit)."""
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    base = docs.agg((F.max("doc_id") + F.lit(1)).alias("_b"))
    bad = local_rows(spark, [(0, "87 55 13"), (1, "a b"), (2, "!! ?? ,,")], "off long, t string")
    planted = bad.crossJoin(F.broadcast(base)).select(
        (F.col("off") + F.col("_b")).alias("doc_id"), F.col("t").alias("text")
    )
    return with_quality_score(docs.unionByName(planted)).select(
        "doc_id", "quality_score", "quality_keep"
    )


@register(
    "text_lang_profile",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS BIGINT) AS total_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", spread=True)
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text").cast("bigint")).alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_SQL_UNIGRAM_FREQ = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ), cnt AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS tok_n FROM tok GROUP BY tok
    ), tot AS (
      SELECT CAST(SUM(tok_n) AS BIGINT) AS corpus_total FROM cnt
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM(c.tok_n) AS BIGINT) AS sum_freq,
           CAST(SUM(c.tok_n) AS DOUBLE)
             / CAST(COUNT(*) * (SELECT corpus_total FROM tot) AS DOUBLE)
             AS avg_unigram_freq
    FROM tok t JOIN cnt c USING (tok)
    GROUP BY t.doc_id
    """


@register("text_unigram_freq", oracle=_SQL_UNIGRAM_FREQ)
def text_unigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency document scoring (CCNet-style quality signal with
    exact integer sums instead of log-probs, so it value-hash matches any
    engine). The token-keyed count join is the Zipf-head hot spot; final
    division is ONE double op over exact integers."""
    from erpl_web_spark.operators.text import with_unigram_freq_score

    docs = load(spark, sf_dir, "documents", spread=True)
    return with_unigram_freq_score(docs, "doc_id", "text")


@register("text_unigram_freq_salted", oracle=_SQL_UNIGRAM_FREQ)
def text_unigram_freq_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME score through the salted join-back (``salt=8``): each
    hot token fans over 8 reducers via ``relational.salted_join`` while
    the result stays value-hash identical — the same oracle SQL checks
    both plans, so the skew mitigation's correctness gets its own
    driver row. Shipped because AQE's skew split is measured NOT to
    engage in this join-under-rollup shape (SCALING.md round 8): at
    web scale the Zipf head ("the" ≈ 7% of occurrences) would pin ~7%
    of the corpus on one reducer with no runtime rescue, so the salted
    plan is the production path for dominant-token corpora; exact
    integer sums make the fan-out order-insensitive."""
    from erpl_web_spark.operators.text import with_unigram_freq_score

    docs = load(spark, sf_dir, "documents", spread=True)
    return with_unigram_freq_score(docs, "doc_id", "text", salt=8)


@register(
    "similarity_cosine_top3",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             list_dot_product(p.emb, c.emb)
               / (sqrt(list_dot_product(p.emb, p.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cosine
      FROM v p JOIN v c ON p.vec_id < 100 AND p.vec_id <> c.vec_id
    ), ranked AS (
      SELECT probe_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rank,
             cosine
      FROM scored
    )
    SELECT probe_id, neighbor_id, CAST(rank AS INT) AS rank,
           ROUND(cosine, 6) AS cosine_r
    FROM ranked WHERE rank <= 3
    """,
    headline=True,
)
def similarity_cosine_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-3 for a 100-probe set via the BLAS-shortlist
    path: one numpy matmul per partition selects per-probe candidates
    (map-side combine), the exact JVM fold re-scores them — output
    bit-identical to the brute-force ``cosine_top_k`` baseline
    (pinned by test_blas_top_k_matches_brute_force)."""
    # r14: corpus deliberately NOT spread. On this runtime every Python
    # task is a fresh forked worker (~0.2-0.3 s tax regardless of work,
    # measured in OPTIMIZATION_r14.md), so the spread repartition turned
    # a trivial per-partition matmul into 32 concurrent fork storms:
    # unspread 0.32 s vs spread 0.72 s (interleaved A/B, bit-identical
    # output — the per-partition top-m union provably contains the
    # global top-k under ANY partitioning). On real multi-split data the
    # scan's natural splits parallelize the shortlist exactly as before;
    # the probe side is collected by contract, so it never needed the
    # rebalance either.
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 100)
    out = cosine_top_k_blas(emb, probes, "vec_id", "embedding", k=3)
    return out.select(
        "probe_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine_r")
    )


def _cov8_oracle() -> str:
    """DuckDB twin of embedding_covariance at dim=8: same floor
    quantization, exact integer moment sums in one scan, identical
    two-division double tail, unpivoted via UNION ALL branches."""
    dim, scale = 8, 10_000
    qcols = ", ".join(
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * {scale}) AS BIGINT) AS e{i}"
        for i in range(dim)
    )
    sums = ", ".join(f"CAST(SUM(e{i}) AS BIGINT) AS s{i}" for i in range(dim))
    prods = ", ".join(
        f"CAST(SUM(e{i}*e{j}) AS BIGINT) AS p{i}_{j}"
        for i in range(dim)
        for j in range(i, dim)
    )
    branches = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, n, p{i}_{j} AS p, s{i} AS si, s{j} AS sj FROM s"
        for i in range(dim)
        for j in range(i, dim)
    )
    return f"""
    WITH q AS (SELECT {qcols} FROM embeddings),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, {sums}, {prods} FROM q)
    SELECT i, j, n,
           CAST(n*p - si*sj AS DOUBLE) / CAST(n*n AS DOUBLE) / {float(scale * scale)} AS cov
    FROM ({branches})
    """


@register("embedding_covariance", oracle=_cov8_oracle())
def embedding_covariance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance of the first 8 embedding dims: exact
    floor-quantized integer moments (one Arrow pass, O(dim²) shuffle),
    fixed two-division double tail — value-hash identical to DuckDB's
    integer arithmetic, unlike streaming covar_pop aggregates."""
    from erpl_web_spark.operators.similarity import embedding_covariance

    emb = load(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.slice("embedding", 1, 8).alias("embedding")
    )
    return embedding_covariance(emb, "embedding", dim=8)


@register("embedding_pca_project", oracle=None)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection onto the top-8 principal components: distributed
    exact-integer covariance reduction + driver-side 64x64 eigh (O(dim³),
    corpus-independent) + map-only numpy projection. Output is scalar
    columns ``pc_0..pc_7 double`` (6 dp) — driver-canonicalizable, no
    array cells. No SQL oracle (no eigendecomposition in DuckDB); the
    covariance input is value-hash oracle-checked via
    embedding_covariance, projections are pinned as a golden fixture
    (tests/fixtures/golden/embedding_pca_project.json), and
    eigen-structure properties (orthonormality, variance == eigenvalues,
    numpy-PCA parity) are pytest-pinned."""
    from erpl_web_spark.operators.similarity import pca_project

    emb = load(spark, sf_dir, "embeddings", spread=True)
    return pca_project(emb, "vec_id", "embedding", dim=64, k=8)


def _pca_planted_oracle() -> str:
    """DuckDB twin of pca_project on the PLANTED rank-2 corpus: the data
    lives exactly in span{e0, e1}, so the 8x8 covariance is an exact 2x2
    block (all other moments are integer zero) and the dominant
    eigenvector has the CLOSED FORM v = (cab, lam1 - caa) with lam1 from
    the 2x2 quadratic — no eigendecomposition needed oracle-side. The
    moment arithmetic mirrors the operator digit for digit: integer
    quantized sums (exact BIGINTs), the same two-division double tail
    (sum/n then /unit_scale^2), so caa/cab/cbb differ from numpy's C
    only in the final roundings; eigh on the exact block matrix then
    agrees with the closed form to ~1e-14, invisible at 6 dp. Sign
    convention mirrors the operator's largest-|loading|-positive rule:
    |w_a| > |w_b| by construction (the caa-cbb gap dominates cab), so
    pc_0 is sign-fixed by w_a > 0 and pc_1 is the in-plane orthogonal
    (-w_b, w_a) — whose pivot (index 1, value w_a) is already positive."""
    # planted integer coordinates: h has ~23-level spread, g ~7-level;
    # a = 3h + g carries the dominant variance, b = h - g is correlated
    # with a through the shared h (cab != 0, so the eigenvector mixes
    # the axes — the oracle proves the rotation, not an axis pick)
    a = "CAST(3 * ((vec_id % 23) - 11) + ((vec_id * 3) % 7) - 3 AS BIGINT)"
    b = "CAST(((vec_id % 23) - 11) - ((vec_id * 3) % 7) + 3 AS BIGINT)"
    return f"""
    WITH base AS (
      SELECT vec_id, {a} AS ai, {b} AS bi FROM embeddings
    ), m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(ai) AS DOUBLE) * 10000.0 AS sa,
             CAST(SUM(bi) AS DOUBLE) * 10000.0 AS sb,
             CAST(SUM(ai * ai) AS DOUBLE) * 100000000.0 AS paa,
             CAST(SUM(ai * bi) AS DOUBLE) * 100000000.0 AS pab,
             CAST(SUM(bi * bi) AS DOUBLE) * 100000000.0 AS pbb
      FROM base
    ), c AS (
      SELECT sa / n / 10000.0 AS ma, sb / n / 10000.0 AS mb,
             (paa / n - (sa / n) * (sa / n)) / 100000000.0 AS caa,
             (pab / n - (sa / n) * (sb / n)) / 100000000.0 AS cab,
             (pbb / n - (sb / n) * (sb / n)) / 100000000.0 AS cbb
      FROM m
    ), e AS (
      SELECT ma, mb, caa, cab,
             (caa + cbb + sqrt((caa - cbb) * (caa - cbb)
                               + 4 * cab * cab)) / 2 AS lam1
      FROM c
    ), w AS (
      SELECT ma, mb,
             (CASE WHEN cab < 0 THEN -cab ELSE cab END)
               / sqrt(cab * cab + (lam1 - caa) * (lam1 - caa)) AS wa,
             (CASE WHEN cab < 0 THEN -(lam1 - caa) ELSE lam1 - caa END)
               / sqrt(cab * cab + (lam1 - caa) * (lam1 - caa)) AS wb
      FROM e
    )
    SELECT vec_id,
           ROUND((CAST(ai AS DOUBLE) - ma) * wa
                 + (CAST(bi AS DOUBLE) - mb) * wb, 6) AS pc_0,
           ROUND(-(CAST(ai AS DOUBLE) - ma) * wb
                 + (CAST(bi AS DOUBLE) - mb) * wa, 6) AS pc_1
    FROM base, w
    """


@register("embedding_pca_planted", oracle=_pca_planted_oracle())
def embedding_pca_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME pca_project operator (distributed integer covariance
    moments -> driver eigh -> map-only projection) run on a planted
    rank-2 corpus whose principal axes have a closed form — the oracle
    twin that removes the rows-only caveat from the PCA family (VERDICT
    r10 Next #3): embeddings are [a_i, b_i, 0,...,0] with a_i, b_i
    small correlated integers derived from vec_id, so DuckDB can
    compute the expected projections ALGEBRAICALLY (2x2 eigenvector
    formula) and the full chain — quantization, moment sums, mean
    centering, eigenvector orientation, per-row projection, 6-dp
    rounding — is value-hash-checked end to end at every SF.
    embedding_pca_project keeps pinning the production 64-dim path
    (golden fixture + eigen-property tests); this entry proves the
    numeric pipeline against an independent algebraic rendering."""
    from erpl_web_spark.operators.similarity import pca_project

    ids = load(spark, sf_dir, "embeddings", spread=True).select("vec_id")
    h = (F.col("vec_id") % 23 - 11).cast("double")
    g = ((F.col("vec_id") * 3) % 7 - 3).cast("double")
    planted = ids.select(
        "vec_id",
        F.array(h * 3 + g, h - g, *[F.lit(0.0)] * 6).alias("embedding"),
    )
    return pca_project(planted, "vec_id", "embedding", dim=8, k=2)


@register(
    "similarity_hard_negatives",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, c.label AS neg_label,
             list_dot_product(p.emb, c.emb)
               / (sqrt(list_dot_product(p.emb, p.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))) AS cosine
      FROM v p JOIN v c ON p.vec_id < 100 AND p.label <> c.label
    ), ranked AS (
      SELECT probe_id, neighbor_id, neg_label,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rank,
             cosine
      FROM scored
    )
    SELECT probe_id, neighbor_id, neg_label, CAST(rank AS INT) AS rank,
           ROUND(cosine, 6) AS cosine_r
    FROM ranked WHERE rank <= 3
    """,
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per probe, the
    top-3 most-similar vectors with a DIFFERENT label — the examples a
    contrastive loss learns most from. Broadcast probes, map-only
    label-mismatch scoring, WindowGroupLimit top-k; the exact baseline
    (scale path = the same label filter inside IVF cells)."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    probes = emb.where(F.col("vec_id") < 100)
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("probe_vec"),
        norm_expr(F.col("embedding")).alias("pnorm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("vec"),
        norm_expr(F.col("embedding")).alias("cnorm"),
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .where(F.col("probe_label") != F.col("neg_label"))
        .select(
            "probe_id",
            "neighbor_id",
            "neg_label",
            (dot_expr(F.col("probe_vec"), F.col("vec")) / (F.col("pnorm") * F.col("cnorm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("probe_id", "neighbor_id", "neg_label", "rank",
                F.round("cosine", 6).alias("cosine_r"))
    )


@register(
    "pipeline_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_toks FROM documents
    )
    SELECT doc_id, n_toks,
           CAST(n_toks // 32 AS BIGINT) AS bucket,
           CAST((ROW_NUMBER() OVER (PARTITION BY n_toks // 32 ORDER BY doc_id) - 1) // 8
                AS BIGINT) AS batch_idx
    FROM t
    """,
)
def pipeline_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment: group documents into
    32-token-wide length buckets and deterministic 8-doc batches within
    each — the padding-efficiency step before batched inference or
    packing (same-length batches waste no pad tokens). One skinny
    shuffle on the bucket key; WindowGroupLimit does not apply (full
    numbering), but rows are (doc_id, long) pairs only."""
    from erpl_web_spark.operators.text import token_count_expr

    d = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", token_count_expr(F.col("text")).cast("bigint").alias("n_toks")
    )
    d = d.withColumn("bucket", (F.col("n_toks") / 32).cast("bigint"))
    w = Window.partitionBy("bucket").orderBy("doc_id")
    return d.withColumn(
        "batch_idx", ((F.row_number().over(w) - 1) / 8).cast("bigint")
    ).select("doc_id", "n_toks", "bucket", "batch_idx")


@register("similarity_ann_lsh", oracle=None)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: exact ranking within random-hyperplane LSH buckets.

    Rows-only driver check (seeded hyperplanes); full output pinned as a
    golden fixture (tests/fixtures/golden/similarity_ann_lsh.json,
    asserted by tests/test_golden_fixtures.py); recall measured in
    tools/recall_bench.py (table in COVERAGE.md)."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return ann_top_k_lsh(emb, "vec_id", "embedding", k=3, num_planes=6, dim=64)


@register(
    "similarity_ann_lsh_md5",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), comps AS (
      SELECT vec_id, generate_subscripts(emb, 1) - 1 AS dim, unnest(emb) AS x
      FROM v
    ), planes AS (
      SELECT p.plane, d.dim,
             (CAST('0x' || substring(md5('42:' || CAST(p.plane AS STRING)
                 || ':' || CAST(d.dim AS STRING)), 1, 12) AS BIGINT) & 1) * 2 - 1 AS sign
      FROM (SELECT unnest(range(0, 6)) AS plane) p,
           (SELECT unnest(range(0, 64)) AS dim) d
    ), proj AS (
      SELECT c.vec_id, pl.plane,
             SUM(CAST(round(c.x * 100000000) AS BIGINT) * pl.sign) AS pr
      FROM comps c JOIN planes pl ON pl.dim = c.dim
      GROUP BY c.vec_id, pl.plane
    ), buckets AS (
      SELECT vec_id,
             SUM(CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << CAST(plane AS INT))
                      ELSE 0 END) AS bucket
      FROM proj GROUP BY vec_id
    ), vb AS (
      SELECT v.vec_id, v.emb, b.bucket FROM v JOIN buckets b USING (vec_id)
    ), scored AS (
      SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
             list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
      FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT probe_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT probe_id, neighbor_id, CAST(rank AS INT) AS rank,
           ROUND(cosine, 6) AS cosine_r
    FROM ranked WHERE rank <= 3
    """,
)
def similarity_ann_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL random-hyperplane-LSH ANN pipeline under
    ``hash_mode="md5"`` — the oracle twin that removes the rows-only
    caveat from the hyperplane-LSH family (the dedup_minhash_lsh_md5
    pattern): plane signs from the engine-portable 48-bit md5 parity,
    projections as EXACT integer sums (components quantized to
    round(x*1e8) bigint, so the sign bit cannot drift with summation
    order), the 6-bit bucket assembly, the within-bucket exact-cosine
    ranking and the top-3 cut are all rebuilt in DuckDB and
    value-hash-checked end to end (cosine rounded to 6 — the
    similarity_cosine_top3 idiom). The xxhash64 production path keeps
    its golden pin in similarity_ann_lsh."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    out = ann_top_k_lsh(
        emb, "vec_id", "embedding", k=3, num_planes=6, dim=64, hash_mode="md5"
    )
    return out.select(
        "probe_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine_r")
    )


@register(
    "multimodal_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS sha256
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing: documents wrapped as binary payloads, decoded
    via Arrow-batched mapInPandas (stubbed kernel, real distribution)."""
    media = documents_as_media(load(spark, sf_dir, "documents", spread=True))
    return decode_media(media).select("media_id", "byte_len", "sha256")


# DuckDB rendering of the deterministic IVF coarse quantizer shared by
# similarity_ann_ivf and dedup_embedding: centroid = every 50th vec_id,
# cell = argmax-cosine centroid (ties -> lowest cell), exactly mirroring
# operators.similarity.ivf_centroids/ivf_assign.
_SQL_IVF_ASSIGNED = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), cent AS (
      SELECT vec_id AS cell, emb AS cvec FROM v WHERE vec_id % 50 = 0
    ), cscored AS (
      SELECT v.vec_id, v.emb, cent.cell,
             list_dot_product(v.emb, cvec)
               / (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(cvec, cvec))) AS ccos
      FROM v CROSS JOIN cent
    ), assigned AS (
      SELECT vec_id, emb, cell FROM (
        SELECT vec_id, emb, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS rn
        FROM cscored
      ) WHERE rn = 1
    )
"""


@register(
    "similarity_ann_ivf",
    oracle=_SQL_IVF_ASSIGNED
    + """
    , probe_cells AS (
      SELECT vec_id AS probe_id, emb AS probe_vec, cell FROM (
        SELECT vec_id, emb, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS crank
        FROM cscored WHERE vec_id < 100
      ) WHERE crank <= 2
    ), scored AS (
      SELECT p.probe_id, a.vec_id AS neighbor_id,
             list_dot_product(p.probe_vec, a.emb)
               / (sqrt(list_dot_product(p.probe_vec, p.probe_vec)) * sqrt(list_dot_product(a.emb, a.emb))) AS cosine
      FROM probe_cells p JOIN assigned a USING (cell)
      WHERE p.probe_id <> a.vec_id
    ), ranked AS (
      SELECT probe_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT probe_id, neighbor_id, CAST(rank AS INT) AS rank,
           ROUND(cosine, 6) AS cosine_r
    FROM ranked WHERE rank <= 3
    """,
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN for a 100-probe set: deterministic coarse quantizer
    (every 50th vector), nprobe=2 cells searched exactly per probe. The
    sub-linear scale path next to the LSH variant; fully oracle-checked
    because the quantizer is deterministic."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    probes = emb.where(F.col("vec_id") < 100)
    out = ann_top_k_ivf(emb, probes, "vec_id", "embedding", k=3, stride=50, nprobe=2)
    return out.select(
        "probe_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine_r")
    )


# --------------------------------------------------------------------------
# Trained-quantizer oracle entry (VERDICT r11 Next #5): run the REAL
# pyspark.ml KMeans trainer (ivf_train_centroids) on a planted corpus
# whose converged state is an algebraic certainty, so the trained path
# — not just the modulo quantizer — gets a DuckDB value-hash row.
#
# Plant: 8 clusters on 8 dims. Cluster c sits at SEP*(c+1) on dim c
# (SEP = 1e6; pairwise center distance >= ~1.4e6); cluster membership
# comes from vec_id % 36 through triangular thresholds, so populations
# are proportional to 1..8 (non-vacuous counts); each point is offset
# by 4*(vec_id % 997 - 498)*(cluster+1) on dim (cluster+1+vec_id%7)%8
# — a real spread (~per-point-unique magnitudes on a never-the-cluster
# dim; see _ivf_planted_corpus for why the ANN twin needs that), still
# ~2 decades below the separation.
# Why Lloyd's is exact here:
#   - k-means|| (init_steps=10) samples candidates cost-weighted; an
#     uncovered cluster's points carry ~SEP^2 cost vs ~off^2 residual
#     for covered ones (ratio <= 2.6e-4), so after 10 rounds every
#     cluster has a candidate (miss probability ~(e^-2)^10 per
#     cluster) and the local k-means++ pass seeds one centroid per
#     cluster (a covered cluster's residual re-pick odds are
#     ~off^2/SEP^2 per draw).
#   - With one init center inside each planted cluster, the first
#     Lloyd assignment IS the planted partition (offsets <= ~1.6e4 vs
#     >= 1.4e6 separation — no ties possible), so the center update
#     lands on the exact per-cluster mean and iteration 2 moves by
#     exactly 0.
#   - All coordinates are integers: the center update's running sums
#     are exact in fp64 at any aggregation order (values < 2^53), and
#     Spark ML's centroid step multiplies the sum by the correctly-
#     rounded reciprocal (scal(1.0/count, sum)) — which the oracle
#     replays as CAST(SUM(..) AS DOUBLE) * (1.0 / COUNT(*)) for
#     bit-identical doubles, the covariance/probe determinism idiom.
# KMeans' arbitrary cluster ids are canonicalized by each centroid's
# dominant dimension (argmax = the planted cluster id by construction).
# --------------------------------------------------------------------------

def _ivf_planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-centroid corpus (see the block comment above
    similarity_ivf_trained): 8 integer clusters at SEP*(c+1) on dim c,
    populations proportional 1..8 via triangular thresholds on
    vec_id % 36, per-point offset 4*(vec_id % 997 - 498)*(cluster+1)
    on dim (cluster + 1 + vec_id % 7) % 8. The offset design serves
    the ANN twin: the dim rule is always != cluster, so every vector
    is genuinely 2-dimensional and no two non-identical vectors are
    colinear (no wall of exact-1.0 cosines); mod 997 gives
    ~per-point-unique magnitudes (identical-vector twins are rare);
    and the (cluster+1) scaling keeps offset/magnitude — hence the
    6th-decimal cosine spread — constant across clusters. Max offset
    ~1.6e4 stays ~2 decades below the 1e6 separation, so every
    Lloyd's-exactness argument is unchanged. Loaded WITHOUT spread so
    the KMeans input order is replay-fixed."""
    D, SEP = 8, 1_000_000
    ids = load(spark, sf_dir, "embeddings").select("vec_id")
    g = F.col("vec_id") % 36
    cl = (
        F.when(g < 1, 0).when(g < 3, 1).when(g < 6, 2).when(g < 10, 3)
        .when(g < 15, 4).when(g < 21, 5).when(g < 28, 6).otherwise(7)
    )
    off_dim = (cl + 1 + F.col("vec_id") % 7) % D
    off = ((F.col("vec_id") % 997 - 498) * 4 * (cl + 1)).cast("double")
    emb = F.array(
        *[
            F.when(cl == i, F.lit(float(SEP)) * (cl + 1).cast("double"))
            .otherwise(F.lit(0.0))
            + F.when(off_dim == i, off).otherwise(F.lit(0.0))
            for i in range(D)
        ]
    )
    return ids.select("vec_id", emb.alias("embedding"))


# shared plant fragment: (vec_id, cluster, od, off) for every embeddings
# row — both trained-quantizer entries and their oracles derive from it
_SQL_IVF_PLANT = """pts AS (
      SELECT vec_id, (cluster + 1 + vec_id % 7) % 8 AS od,
             CAST(rawoff * (cluster + 1) AS BIGINT) AS off, cluster
      FROM (
        SELECT vec_id, (vec_id % 997 - 498) * 4 AS rawoff,
               CASE WHEN vec_id % 36 < 1 THEN 0 WHEN vec_id % 36 < 3 THEN 1
                    WHEN vec_id % 36 < 6 THEN 2 WHEN vec_id % 36 < 10 THEN 3
                    WHEN vec_id % 36 < 15 THEN 4 WHEN vec_id % 36 < 21 THEN 5
                    WHEN vec_id % 36 < 28 THEN 6 ELSE 7 END AS cluster
        FROM embeddings)
    )"""

_SQL_IVF_TRAINED = f"""
    WITH {_SQL_IVF_PLANT}, cells AS (
      SELECT cluster, d.dim,
             CAST(SUM(CASE WHEN cluster = d.dim
                           THEN 1000000 * (cluster + 1) ELSE 0 END
                    + CASE WHEN od = d.dim THEN off ELSE 0 END) AS DOUBLE)
               * (1.0 / COUNT(*)) AS centroid_val,
             CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM pts, (SELECT unnest(range(0, 8)) AS dim) d
      GROUP BY cluster, d.dim
    )
    SELECT CAST(cluster AS INT) AS cluster, CAST(dim AS INT) AS dim,
           centroid_val, n_vecs
    FROM cells
    """


@register("similarity_ivf_trained", oracle=_SQL_IVF_TRAINED)
def similarity_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVF quantizer path — ivf_train_centroids
    (pyspark.ml KMeans, seeded, init_steps=10) followed by ivf_assign —
    value-hash-checked against a closed-form DuckDB oracle on the
    planted-centroid corpus described above (the trained-quantizer
    analogue of embedding_pca_planted). Output is one row per
    (canonical cluster, dimension): the RAW trained centroid double
    (bit-identical to the oracle's sum * (1.0/n) replay — no rounding
    crutch) plus the cell population from ivf_assign, so the entry
    pins trainer convergence, the (cell, centroid_vec) contract, AND
    the assignment join in one hash. The modulo-quantizer entries
    (similarity_ann_ivf*) keep pinning the search path; this one pins
    the trainer the 100 TB deployment actually uses.

    Deterministic-input note: the corpus is loaded WITHOUT the spread
    repartition — round-robin repartitioning makes row order
    run-dependent, and while the converged result is order-invariant
    (see the plant analysis), keeping the scan order fixed makes the
    k-means|| sampling itself replay-identical too.

    ORACLE FRAGILITY NOTE (pinned engine: pyspark 4.1.x): the oracle
    replays Spark ML internals in closed form — k-means|| seeded init
    coverage and the ``scal(1.0/count, sum)`` reciprocal-multiply
    centroid update. A Spark/MLlib upgrade that changes either detail
    can flip this gate red WITHOUT any operator regression; triage a
    post-upgrade failure here as oracle fragility first (the
    cosine-rounded similarity_ann_ivf_trained twin hedges the search
    path and should stay green through such a change)."""
    from erpl_web_spark.operators.similarity import ivf_assign, ivf_train_centroids

    K = 8
    corpus = _ivf_planted_corpus(spark, sf_dir)

    cents = ivf_train_centroids(
        corpus, n_cells=K, vec_col="embedding", seed=42, max_iter=10,
        init_steps=10, vec_dtype="double",
    )
    # canonical id = dominant dimension (argmax); unique by construction
    canon = cents.select(
        "cell",
        (F.array_position(
            F.col("centroid_vec"), F.array_max(F.col("centroid_vec"))
        ) - 1).cast("int").alias("cluster"),
        "centroid_vec",
    )
    counts = (
        ivf_assign(corpus, cents, "vec_id", "embedding")
        .groupBy("cell")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
    )
    exploded = canon.select(
        "cell", "cluster", F.posexplode("centroid_vec").alias("dim", "centroid_val")
    )
    return (
        exploded.join(F.broadcast(counts), "cell")
        .select("cluster", "dim", F.col("centroid_val").cast("double"), "n_vecs")
    )


# point embedding as a DuckDB list, mirroring _ivf_planted_corpus's
# array expression element for element (int arithmetic, one cast)
_SQL_IVF_EMB = (
    "["
    + ", ".join(
        f"CAST(CASE WHEN cluster = {i} THEN 1000000 * (cluster + 1) ELSE 0 END"
        f" + CASE WHEN od = {i} THEN off ELSE 0 END AS DOUBLE)"
        for i in range(8)
    )
    + "]"
)

_SQL_ANN_IVF_TRAINED = f"""
    WITH {_SQL_IVF_PLANT}, emb AS (
      SELECT vec_id, {_SQL_IVF_EMB} AS e FROM pts
    ), cells AS (
      SELECT cluster, d.dim,
             CAST(SUM(CASE WHEN cluster = d.dim
                           THEN 1000000 * (cluster + 1) ELSE 0 END
                    + CASE WHEN od = d.dim THEN off ELSE 0 END) AS DOUBLE)
               * (1.0 / COUNT(*)) AS v
      FROM pts, (SELECT unnest(range(0, 8)) AS dim) d
      GROUP BY cluster, d.dim
    ), cent AS (
      SELECT cluster AS cell, list(v ORDER BY dim) AS cv FROM cells GROUP BY cluster
    ), asg AS (
      SELECT vec_id, e, cell FROM (
        SELECT p.vec_id, p.e, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY list_dot_product(p.e, c.cv)
                            / (sqrt(list_dot_product(p.e, p.e))
                               * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.cell ASC) AS rn
        FROM emb p, cent c
      ) WHERE rn = 1
    ), pc AS (
      SELECT probe_id, pe, cell FROM (
        SELECT p.vec_id AS probe_id, p.e AS pe, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY list_dot_product(p.e, c.cv)
                            / (sqrt(list_dot_product(p.e, p.e))
                               * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.cell ASC) AS rn
        FROM emb p, cent c WHERE p.vec_id < 50
      ) WHERE rn <= 2
    ), scored AS (
      SELECT pc.probe_id, a.vec_id AS neighbor_id,
             list_dot_product(pc.pe, a.e)
               / (sqrt(list_dot_product(pc.pe, pc.pe))
                  * sqrt(list_dot_product(a.e, a.e))) AS cosine
      FROM pc JOIN asg a USING (cell)
      WHERE a.vec_id <> pc.probe_id
    ), ranked AS (
      SELECT probe_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT probe_id, neighbor_id, CAST(rank AS INT) AS rank,
           ROUND(cosine, 6) AS cosine_r
    FROM ranked WHERE rank <= 3
    """


@register("similarity_ann_ivf_trained", oracle=_SQL_ANN_IVF_TRAINED)
def similarity_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained quantizer inside the SEARCH path: ann_top_k_ivf with
    ``centroids=ivf_train_centroids(...)`` — train -> assign -> probe
    top-nprobe cells -> within-cell exact top-k, all value-hash-checked
    on the planted-centroid corpus. The oracle recomputes the converged
    centroids in closed form (exact per-cluster means), replays
    assignment and probe-cell ranking by cosine, and scores cells
    exactly; every dot/norm is a list_dot_product over the same index
    order as the engine's zip_with/aggregate folds, so the unrounded
    cosines are bit-identical and rank agreement pins the whole
    composition (cell labels never appear in the output, so KMeans'
    arbitrary ids vs the oracle's canonical ids cannot diverge — only
    the partition they induce matters, and it is tie-free by
    construction). similarity_ann_ivf keeps pinning the modulo
    quantizer; this is the trained path a 100 TB deployment runs."""
    from erpl_web_spark.operators.similarity import ann_top_k_ivf, ivf_train_centroids

    corpus = _ivf_planted_corpus(spark, sf_dir)
    cents = ivf_train_centroids(
        corpus, n_cells=8, vec_col="embedding", seed=42, max_iter=10,
        init_steps=10, vec_dtype="double",
    )
    probes = corpus.where(F.col("vec_id") < 50)
    out = ann_top_k_ivf(
        corpus, probes, "vec_id", "embedding", k=3, nprobe=2, centroids=cents
    )
    return out.select(
        "probe_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine_r")
    )


@register(
    "similarity_ivf_cell_profile",
    oracle=f"""
    WITH {_SQL_IVF_PLANT}, emb AS (
      SELECT vec_id, {_SQL_IVF_EMB} AS e FROM pts
    ), p AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             1.0 - list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))) AS d
      FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
    ), dk AS (
      SELECT ia, d AS dk FROM (
        SELECT ia, d, ROW_NUMBER() OVER (PARTITION BY ia ORDER BY d, ib) AS rn
        FROM p)
      WHERE rn = 5
    ), med AS (
      SELECT MEDIAN(dk) AS med FROM dk
    ), cnt AS (
      SELECT p.ia,
             CAST(1 + COUNT(*) FILTER (WHERE p.d <= med.med * 3.0) AS BIGINT)
               AS n_within
      FROM p, med GROUP BY p.ia
    ), ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM emb),
    sugg AS (
      SELECT GREATEST(CAST(1 AS BIGINT),
                      CAST(ROUND(1.0 / AVG(n_within / ns)) AS BIGINT))
               AS suggested_cells
      FROM cnt, ns
    )
    SELECT c.ia AS vec_id, ROUND(d.dk, 6) AS dk_r, c.n_within,
           s.suggested_cells
    FROM cnt c JOIN dk d ON d.ia = c.ia, sugg s
    """,
)
def similarity_ivf_cell_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-sizing profile (similarity.ivf_point_profile /
    ivf_suggest_cells, VERDICT r12 Next #5): the runnable form of
    SCALING.md r12's measured design rule — size n_cells to the data's
    neighbor-radius granularity, not a fixed stride. Profiled over the
    planted-centroid corpus (the one whose cluster structure the
    trained-quantizer entries pin; the driver's raw embeddings table is
    near-random in cosine space — median 2-NN distance ~0.67 — so its
    honest profile degenerates to 1 cell, which would make the hash
    vacuous): per point, distance to the 5th nearest neighbor and the
    neighborhood count within r* = 3 x median(d_k) — n_within VARIES
    with the 1..8-proportional planted cluster populations, so the
    value hash pins a full cluster-size spectrum, and every row carries
    suggested_cells = round(1 / mean neighborhood fraction), the
    population-weighted harmonic of the 8 planted clusters. The oracle
    replays every stage in SQL — pairwise cosine distances (the same
    fold-ordered dot product the green cosine entries pin), the
    k-th-order-statistic selection, the interpolated median, the
    radius count, and the final integer suggestion. The
    20-true-cluster recovery property (suggests ~20, not 400) is
    pytest-pinned on a Gaussian planted corpus. sf1-excluded by the
    pairwise class (the profile is n^2 in the sample BY DESIGN; a
    deployment profiles a fixed-size sample, making the cost constant
    at any corpus scale)."""
    from erpl_web_spark.operators.similarity import ivf_point_profile

    corpus = _ivf_planted_corpus(spark, sf_dir)
    pts = ivf_point_profile(
        corpus, "vec_id", "embedding", k=5, radius_mult=3.0, dim=8
    )
    sugg = pts.agg(
        F.greatest(
            F.lit(1).cast("bigint"),
            F.round(
                F.lit(1.0) / F.avg(F.col("n_within") / F.col("n_sample_d"))
            ).cast("bigint"),
        ).alias("suggested_cells")
    )
    return pts.select(
        "vec_id", F.round("dk", 6).alias("dk_r"), "n_within"
    ).crossJoin(F.broadcast(sugg))


@register(
    "dedup_embedding",
    oracle=_SQL_IVF_ASSIGNED
    + """
    SELECT a.vec_id AS left_id, b.vec_id AS right_id,
           ROUND(list_dot_product(a.emb, b.emb)
             / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine_r
    FROM assigned a JOIN assigned b USING (cell)
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.emb, b.emb)
            / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by IVF cell — the semantic
    complement to the lexical dedup family; quadratic cost stays inside
    cells."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    pairs = embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.35, stride=50)
    return pairs.select("left_id", "right_id", F.round("cosine", 6).alias("cosine_r"))


# One source of truth for the PII regex dialect shared by the Spark
# operator (text.redact_pii mirrors these in order), the entry oracle,
# and the randomized cross-engine property test
# (tests/test_properties.py): (pattern, replacement tag) in chain order.
_PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IPV4]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN_LIKE]"),
    (r"\+?\d[\d\s()-]{7,}\d", "[PHONE]"),
]


def _pii_redact_sql(col: str = "text") -> str:
    """DuckDB rendering of the full redaction CHAIN over ``col`` — the
    redacted-text expression (hit counting needs the stepwise CTE form
    in the entry oracle instead, because hits are counted on each
    pattern's PRE-replacement intermediate)."""
    expr = col
    for pat, tag in _PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{tag}', 'g')"
    return expr


# the name the randomized property test imports
_PII_SQL = _pii_redact_sql("text")


def _pii_oracle() -> str:
    """Entry oracle generated from _PII_PATTERNS: replacements chain in
    order, and hit counts come from each pattern's PRE-replacement
    intermediate (the operator contract: a literal '[EMAIL]' already
    present in the input is not a redaction hit)."""
    steps, counts = [], []
    for i, (pat, tag) in enumerate(_PII_PATTERNS):
        steps.append(
            f"s{i + 1} AS (SELECT *, regexp_replace(r{i}, '{pat}', "
            f"'{tag}', 'g') AS r{i + 1} FROM s{i})"
        )
        counts.append(f"len(regexp_extract_all(r{i}, '{pat}'))")
    n = len(_PII_PATTERNS)
    return f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ip 10.1.2.3 code 123-45-6789 tel'
                  || ' +1 415 555 0133'
                  || repeat(' backup 10.9.8.7', CAST(doc_id % 3 AS INT))
               AS text
      FROM documents
    ), s0 AS (SELECT doc_id, text AS r0 FROM aug),
    {",".join(steps)}
    SELECT doc_id, r{n} AS redacted,
           CAST({" + ".join(counts)} AS INT) AS redacted_n_hits
    FROM s{n}
    """


@register("text_redact_pii", oracle=_pii_oracle())
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails/IPs/phone-like runs/SSN shapes) as a
    map-only JVM regex chain; same RE dialect evaluates in DuckDB.
    Every document gets a planted PII tail (an email carrying its
    doc_id, an IPv4, an SSN shape, a phone, plus doc_id%3 extra IPs so
    the hit count VARIES) — the raw corpus contains no PII at all,
    which left every redaction pattern unexercised by the driver check
    (redacted_n_hits was constant 0; round-8 vacuity audit)."""
    from erpl_web_spark.operators.text import redact_pii

    d = load(spark, sf_dir, "documents", spread=True)
    aug = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.1.2.3 code 123-45-6789 tel +1 415 555 0133"),
            F.repeat(F.lit(" backup 10.9.8.7"), (F.col("doc_id") % 3).cast("int")),
        ),
    )
    return redact_pii(aug, "text").select("doc_id", "redacted", "redacted_n_hits")


@register(
    "text_repetition",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ), per_tok AS (
      SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(MAX(n) AS DOUBLE) / SUM(n) AS rep_top_word_ratio,
           CAST(COUNT(*) AS DOUBLE) / SUM(n) AS rep_distinct_token_ratio
    FROM per_tok GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: top-token share and vocabulary
    richness per document."""
    from erpl_web_spark.operators.text import with_repetition_stats

    return with_repetition_stats(load(spark, sf_dir, "documents", spread=True))


@register(
    "pipeline_hash_split",
    oracle="""
    WITH b AS (
      SELECT CAST('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n
    FROM b GROUP BY split
    """,
)
def pipeline_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split sizes via the md5 bucket rule —
    the cross-engine-verifiable twin of hash_split's xxhash64 fast path.
    Split assignment is a narrow per-row transform (no shuffle); only the
    3-row count summary aggregates."""
    from erpl_web_spark.operators.text import hash_split

    d = load(spark, sf_dir, "documents")
    split = hash_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, method="md5"
    )
    return split.groupBy("split").agg(F.count("*").alias("n"))


@register(
    "embedding_centroid",
    oracle="""
    SELECT label, idx,
           CAST(SUM(CAST(round(CAST(v AS DOUBLE) * 100000000) AS BIGINT)) AS DOUBLE)
             / CAST(100000000 AS DOUBLE) / COUNT(*) AS centroid_val,
           COUNT(*) AS n_vecs
    FROM (SELECT label, generate_subscripts(embedding, 1) AS idx,
                 unnest(embedding) AS v
          FROM embeddings)
    GROUP BY label, idx
    """,
)
def embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class prototype vectors (mean embedding per label), emitted as
    (label, dim, value) rows so the cross-engine compare sees scalars."""
    from erpl_web_spark.operators.similarity import embedding_centroids

    return embedding_centroids(load(spark, sf_dir, "embeddings", spread=True))


@register(
    "pipeline_pack_documents",
    oracle=f"""
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR(cum_before / 256) AS BIGINT) AS pack_id,
           CAST(cum_before % 256 AS BIGINT) AS pack_offset
    FROM (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             COALESCE(SUM(CAST(len({_SQL_TOKS}) AS BIGINT)) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM documents
    )
    """,
)
def pipeline_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic concat-and-chunk sequence packing, packed per
    source shard. Budget 256 (not the production-typical 2048): each
    source shard's documents total under 2048 tokens on the test
    corpus, so the larger budget left pack_id constant at 0 — the
    pack-boundary arithmetic was vacuous in the driver check (round-8
    vacuity audit). 256 forces multiple packs per shard at every SF;
    the operator is budget-agnostic."""
    from erpl_web_spark.operators.text import pack_documents

    return pack_documents(load(spark, sf_dir, "documents"), budget=256)


@register(
    "pipeline_pack_nextfit",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             CAST('0x' || substring(md5(CAST(doc_id AS STRING)), 1, 12) AS BIGINT) % 8 AS shard
      FROM documents
    ), ordered AS (
      SELECT shard, doc_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM toks
    ), pack AS (
      SELECT shard, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin_id, n_tokens AS bin_fill_after
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN p.bin_fill_after + o.n_tokens <= 64
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.bin_fill_after + o.n_tokens <= 64
                  THEN p.bin_fill_after + o.n_tokens ELSE o.n_tokens END
      FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
    )
    SELECT shard, doc_id, n_tokens, bin_id, bin_fill_after FROM pack
    """,
)
def pipeline_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHOLE-document next-fit packing (text.pack_documents_nextfit):
    docs never split, a new bin opens when the next doc would overflow
    the 64-token budget (production-typical 2048 would leave bin_id
    near-constant on the test corpus — same vacuity reasoning as
    pipeline_pack_documents). Bin boundaries depend on every prior
    placement — a stateful per-shard scan no window cumsum expresses,
    so the engine runs an Arrow-batched applyInPandas over skinny
    (shard, id, n_tokens) rows (md5 shard buckets, text never
    shuffles) and the ORACLE walks the same scan as a recursive CTE:
    two unrelated algorithms, one value hash. Recursive-CTE oracle
    family (sf1 via the Python model in tools/sf1_recursive_check)."""
    from erpl_web_spark.operators.text import pack_documents_nextfit

    return pack_documents_nextfit(
        load(spark, sf_dir, "documents"), budget=64, n_shards=8
    )


@register(
    "multimodal_frames",
    oracle="""
    SELECT media_id, frame_idx, CAST(frame_idx * 1000 AS BIGINT) AS frame_ts_ms
    FROM (
      SELECT doc_id AS media_id,
             CAST(unnest(range(0, GREATEST(
               CAST(FLOOR(LENGTH(text) * 10 / 1000.0) AS INT), 1))) AS INT) AS frame_idx
      FROM documents
    )
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out (1 frame/sec over the fake 10ms-per-
    byte duration): explode over a JVM-computed sequence — the real
    distributed shape of a frame extractor, with the decode kernel
    stubbed (no media libs in this environment)."""
    from erpl_web_spark.operators.multimodal import documents_as_media, sample_frames

    media = documents_as_media(
        load(spark, sf_dir, "documents"), media_type="video"
    )
    return sample_frames(media, every_ms=1000).select(
        "media_id", "frame_idx", (F.col("frame_idx") * 1000).cast("long").alias("frame_ts_ms")
    )


_CHUNKS_ORACLE = f"""
    SELECT doc_id, CAST(ci AS INT) AS chunk_idx, chunk_text,
           CAST(CASE WHEN chunk_text = '' THEN 0
                ELSE len(string_split(chunk_text, ' ')) END AS INT) AS n_tokens
    FROM (
      SELECT doc_id,
             unnest(range(1, nch + 1)) AS ci,
             unnest(list_transform(range(1, nch + 1),
               c -> array_to_string(toks[(c-1)*32+1:c*32], ' '))) AS chunk_text
      FROM (
        SELECT doc_id, toks,
               greatest((len(toks) + 31) // 32, 1) AS nch
        FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
      )
    )
    """


@register("udtf_chunk_tokens", oracle=_CHUNKS_ORACLE)
def udtf_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (SURVEY 2.F): context-window chunking via
    LATERAL chunk_tokens(text, 32). The Python-worker path — its codegen
    twin is q:chunk_tokens_native with byte-identical output."""
    from erpl_web_spark.functions.udtfs import chunk_tokens

    return chunk_tokens(load(spark, sf_dir, "documents"))


@register("chunk_tokens_native", oracle=_CHUNKS_ORACLE)
def chunk_tokens_native_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codegen-path twin of udtf_chunk_tokens (explode over chunk array)."""
    from erpl_web_spark.functions.udtfs import chunk_tokens_native

    return chunk_tokens_native(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Corpus curation (operators/curation.py): per-group caps, benchmark
# decontamination, stratified sampling
# --------------------------------------------------------------------------

@register(
    "curation_quantile_filter",
    oracle="""
    WITH c AS (
      SELECT lang, ROUND(quantile_cont(n_chars, 0.3), 6) AS cutoff
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_chars, c.cutoff
    FROM documents d JOIN c USING (lang)
    WHERE d.n_chars >= c.cutoff
    """,
)
def curation_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length floor (CCNet/FineWeb-style quality stage):
    drop every language's shortest 30% by n_chars. The cutoff is a
    per-group aggregate joined back as a row-local predicate (AQE
    broadcasts the tiny cutoff side) — NOT a
    per-group rank, so no language concentrates in one task at scale.
    Integer scores + ROUND(cutoff, 6) keep the boundary comparison
    engine-stable: interpolated cutoffs are midpoints between integers
    (Spark percentile vs DuckDB quantile_cont), never ulp-close to a
    doc's integer score."""
    from erpl_web_spark.operators.curation import quantile_filter

    d = load(spark, sf_dir, "documents")
    return quantile_filter(d, "lang", "n_chars", q=0.3, exact=True).select(
        "doc_id", "lang", "n_chars", "cutoff"
    )


def _quality_probe_oracle() -> str:
    """DuckDB twin of curation.fit_linear_probe on the documents
    features: the fifteen exact-int64 moments, the centered normal
    -equation entries as ``n*Sij - Si*Sj`` (int64-exact, ONE
    int->double conversion), and the SAME Sarrus parenthesization the
    operator uses — generated by a helper mirroring its det3() term
    for term, so the weights and per-row predictions are BIT-IDENTICAL
    across engines, and ROUND(,6) is cosmetic rather than load-bearing."""

    def det3(p):
        return (
            f"{p[0][0]} * ({p[1][1]} * {p[2][2]} - {p[1][2]} * {p[2][1]})"
            f" - {p[0][1]} * ({p[1][0]} * {p[2][2]} - {p[1][2]} * {p[2][0]})"
            f" + {p[0][2]} * ({p[1][0]} * {p[2][1]} - {p[1][1]} * {p[2][0]})"
        )

    a = [["a11", "a12", "a13"], ["a12", "a22", "a23"], ["a13", "a23", "a33"]]
    d = det3(a)
    w1n = det3([["b1", "a12", "a13"], ["b2", "a22", "a23"], ["b3", "a23", "a33"]])
    w2n = det3([["a11", "b1", "a13"], ["a12", "b2", "a23"], ["a13", "b3", "a33"]])
    w3n = det3([["a11", "a12", "b1"], ["a12", "a22", "b2"], ["a13", "a23", "b3"]])
    return f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS x1,
             CAST(floor(1000.0 * (CAST(list_sum(list_transform({_SQL_TOKS},
                    t -> LENGTH(t))) AS DOUBLE)
                  / CAST(GREATEST(len({_SQL_TOKS}), 1) AS DOUBLE))) AS BIGINT) AS x2,
             CAST(floor(1000.0 * (CAST(len(list_distinct({_SQL_TOKS})) AS DOUBLE)
                  / CAST(GREATEST(len({_SQL_TOKS}), 1) AS DOUBLE))) AS BIGINT) AS x3,
             CAST(n_chars AS BIGINT) AS y
      FROM documents
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
             CAST(SUM(x3) AS BIGINT) AS s3, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x1 * x1) AS BIGINT) AS s11, CAST(SUM(x1 * x2) AS BIGINT) AS s12,
             CAST(SUM(x1 * x3) AS BIGINT) AS s13, CAST(SUM(x2 * x2) AS BIGINT) AS s22,
             CAST(SUM(x2 * x3) AS BIGINT) AS s23, CAST(SUM(x3 * x3) AS BIGINT) AS s33,
             CAST(SUM(x1 * y) AS BIGINT) AS s1y, CAST(SUM(x2 * y) AS BIGINT) AS s2y,
             CAST(SUM(x3 * y) AS BIGINT) AS s3y
      FROM feat
    ), c AS (
      SELECT CAST(n * s11 - s1 * s1 AS DOUBLE) AS a11,
             CAST(n * s12 - s1 * s2 AS DOUBLE) AS a12,
             CAST(n * s13 - s1 * s3 AS DOUBLE) AS a13,
             CAST(n * s22 - s2 * s2 AS DOUBLE) AS a22,
             CAST(n * s23 - s2 * s3 AS DOUBLE) AS a23,
             CAST(n * s33 - s3 * s3 AS DOUBLE) AS a33,
             CAST(n * s1y - s1 * sy AS DOUBLE) AS b1,
             CAST(n * s2y - s2 * sy AS DOUBLE) AS b2,
             CAST(n * s3y - s3 * sy AS DOUBLE) AS b3,
             CAST(sy AS DOUBLE) AS dsy, CAST(s1 AS DOUBLE) AS ds1,
             CAST(s2 AS DOUBLE) AS ds2, CAST(s3 AS DOUBLE) AS ds3,
             CAST(n AS DOUBLE) AS dn
      FROM m
    ), w AS (
      SELECT ({w1n}) / ({d}) AS w1,
             ({w2n}) / ({d}) AS w2,
             ({w3n}) / ({d}) AS w3,
             dsy, ds1, ds2, ds3, dn
      FROM c
    ), wb AS (
      SELECT w1, w2, w3,
             (dsy - w1 * ds1 - w2 * ds2 - w3 * ds3) / dn AS b0
      FROM w
    )
    SELECT f.doc_id, f.x1, f.x2, f.x3, f.y,
           ROUND(wb.b0 + wb.w1 * CAST(f.x1 AS DOUBLE)
                       + wb.w2 * CAST(f.x2 AS DOUBLE)
                       + wb.w3 * CAST(f.x3 AS DOUBLE), 6) AS pred_r,
           ROUND(CAST(f.y AS DOUBLE)
                 - (wb.b0 + wb.w1 * CAST(f.x1 AS DOUBLE)
                          + wb.w2 * CAST(f.x2 AS DOUBLE)
                          + wb.w3 * CAST(f.x3 AS DOUBLE)), 6) AS resid_r
    FROM feat f, wb
    """


@register("curation_quality_probe", oracle=_quality_probe_oracle())
def curation_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed linear quality probe (curation.fit_linear_probe):
    fit n_chars against (token count, milli-quantized mean word
    length, milli-quantized type-token ratio) over the whole corpus — the
    FineWeb-Edu distillation shape: one exact-integer moment reduction
    (fifteen int64 cells, partial-aggregable), a closed-form driver
    solve with a FIXED IEEE expression tree, map-only scoring with
    inlined literal weights. The oracle replays the identical tree
    (see _quality_probe_oracle), so the value hash pins the whole
    train-then-score pipeline — moments, centering, Cramer solve, sign
    and magnitude of every weight — through bit-identical predictions.
    Quantization at 1e3 keeps every moment within int64 one decade
    past sf1 (bounds in the operator docstring)."""
    from erpl_web_spark.operators.curation import fit_linear_probe
    from erpl_web_spark.operators.text import tokens_expr

    docs = load(spark, sf_dir, "documents", spread=True)
    toks = tokens_expr("text")
    ntok = F.size(toks)
    tokchars = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    x2 = F.floor(
        F.lit(1000.0)
        * (tokchars.cast("double") / F.greatest(ntok, F.lit(1)).cast("double"))
    )
    x3 = F.floor(
        F.lit(1000.0)
        * (
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(ntok, F.lit(1)).cast("double")
        )
    )
    scored, _w = fit_linear_probe(
        docs, "doc_id", [ntok, x2, x3], F.col("n_chars")
    )
    return scored.select(
        "doc_id", "x1", "x2", "x3", "y",
        F.round("pred", 6).alias("pred_r"),
        F.round("resid", 6).alias("resid_r"),
    )


@register(
    "curation_cap_per_source",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn <= 30
    """,
)
def curation_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (C4/RefinedWeb guard against one domain dominating
    the corpus): keep the first 30 docs per source by id. Plans as
    WindowGroupLimit — a bounded per-group heap before the window sort."""
    from erpl_web_spark.operators.curation import cap_per_group

    d = load(spark, sf_dir, "documents")
    return cap_per_group(d, "source", [F.col("doc_id")], 30).select("doc_id", "source")


@register(
    "curation_diverse_sample",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (SELECT vec_id AS cell, emb AS cvec FROM v WHERE vec_id % 50 = 0),
    scored AS (
      SELECT v.vec_id, c.cell,
             list_dot_product(v.emb, c.cvec)
               / (sqrt(list_dot_product(v.emb, v.emb))
                  * sqrt(list_dot_product(c.cvec, c.cvec))) AS cos
      FROM v, c
    ), best AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cell) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT vec_id, cell FROM (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
      FROM best
    ) WHERE rn <= 25
    """,
)
def curation_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-diversity sampling: cap the corpus per coarse cluster
    cell (IVF assignment — broadcast centroids, map-side argmax) so no
    region of embedding space dominates the sample — the geometric
    analogue of the per-domain cap. Per-cell cap plans as
    WindowGroupLimit; the only shuffle carries (vec_id, cell) pairs."""
    from erpl_web_spark.operators.curation import cap_per_group
    from erpl_web_spark.operators.similarity import ivf_assign, ivf_centroids

    emb = load(spark, sf_dir, "embeddings", spread=True)
    cents = ivf_centroids(emb, "vec_id", "embedding", stride=50)
    assigned = ivf_assign(emb, cents, "vec_id", "embedding").select("vec_id", "cell")
    return cap_per_group(assigned, "cell", [F.col("vec_id")], 25).select(
        "vec_id", "cell"
    )


# containment oracle shared by the plain and Bloom-composed entries —
# the Bloom path is RESULT-INVARIANT (no false negatives; false
# positives die in the exact join), so one oracle pins both
_SQL_CONTAMINATION_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES.replace("__toks", "toks")} AS sh
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    ),
    bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 20 = 0),
    doc AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 20 <> 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM doc GROUP BY doc_id),
    hit AS (SELECT d.doc_id, COUNT(*) AS n_matched
            FROM doc d JOIN bench b ON d.g = b.g GROUP BY d.doc_id)
    SELECT t.doc_id, n_shingles,
           COALESCE(n_matched, 0) AS n_matched,
           CAST(COALESCE(n_matched, 0) AS DOUBLE) / CAST(n_shingles AS DOUBLE)
             AS contamination
    FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
    WHERE CAST(COALESCE(n_matched, 0) AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.8
    """


@register(
    "curation_contamination",
    oracle=_SQL_CONTAMINATION_ORACLE,
)
def curation_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs whose 3-gram
    containment against the 'benchmark' set (every 20th doc, standing in
    for an eval suite) is >= 0.8. The benchmark collapses to a distinct
    broadcast shingle-hash set; the oracle computes the same containment
    on string shingles (64-bit hash collisions are ~2^-64)."""
    from erpl_web_spark.operators.curation import contamination_report

    d = load(spark, sf_dir, "documents", spread=True)
    bench = d.where(F.col("doc_id") % 20 == 0)
    train = d.where(F.col("doc_id") % 20 != 0)
    return contamination_report(train, bench, "doc_id", "text", 3).where(
        F.col("contamination") >= 0.8
    )


@register("curation_contamination_bloom", oracle=_SQL_CONTAMINATION_ORACLE)
def curation_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curation_contamination with the Bloom pre-filter ON
    (bloom_m_bits=4096, k=3) — the URL-index composition applied to
    decontamination: the benchmark shingle set builds a
    ceil(m/48)-row broadcast filter, corpus shingles with any unset
    bit are routed AROUND the benchmark join, and false positives are
    resolved by the exact join they pass into. The oracle knows
    nothing about Bloom filters — it is the SAME containment SQL the
    plain entry uses — so hash equality IS the result-invariance
    contract (the no-false-negative side licensing the routing). At
    crawl scale this is the shape that survives a benchmark suite too
    big to broadcast: the filter stays m/48 rows at ANY benchmark
    size, while the join's corpus-side input shrinks to
    ~true_match_rate + FP_rate (measured for the digest case in
    SCALING.md r12)."""
    from erpl_web_spark.operators.curation import contamination_report

    d = load(spark, sf_dir, "documents", spread=True)
    bench = d.where(F.col("doc_id") % 20 == 0)
    train = d.where(F.col("doc_id") % 20 != 0)
    return contamination_report(
        train, bench, "doc_id", "text", 3, bloom_m_bits=4096, bloom_k=3
    ).where(F.col("contamination") >= 0.8)


@register(
    "curation_stratified_sample",
    oracle="""
    WITH b AS (
      SELECT lang,
             CAST('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 10000 AS bucket
      FROM documents
    )
    SELECT lang, COUNT(*) AS n
    FROM b
    WHERE bucket < CASE WHEN lang = 'en' THEN 5000 ELSE 1000 END
    GROUP BY lang
    """,
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (keep 50% of 'en', 10% of
    everything else) via the cross-engine md5 bucket rule — the
    rebalancing step that tames overrepresented strata. Map-only."""
    from erpl_web_spark.operators.curation import stratified_sample

    d = load(spark, sf_dir, "documents")
    kept = stratified_sample(
        d, "lang", {"en": 0.5}, "doc_id", default_fraction=0.1, method="md5"
    )
    return kept.groupBy("lang").agg(F.count("*").alias("n"))


@register(
    "curation_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, CAST(GREATEST(n_chars, 1) AS DOUBLE) AS weight,
             -ln((CAST(CAST('0x' || substring(md5('ws12:' || CAST(doc_id AS VARCHAR)),
                                     1, 12) AS BIGINT) % 4096 AS DOUBLE) + 0.5)
                 / 4096.0)
               / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS e
      FROM documents
    ), ranked AS (
      SELECT doc_id, weight,
             ROW_NUMBER() OVER (ORDER BY e, doc_id) AS rn
      FROM keyed
    )
    SELECT doc_id, weight, CAST(rn AS INT) AS sample_rank
    FROM ranked WHERE rn <= 100
    """,
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (curation.weighted_sample,
    A-ES exponential race keys, md5 mode): draw 100 documents with
    probability proportional to n_chars — the quality-weighted corpus
    draw a pretraining mixture runs after scoring. The oracle replays
    the same lattice uniform, key formula, and (key, id) tie-break in
    SQL; rank agreement across engines pins the whole race (distinct
    (u, w) classes are separated by far more than the <=1-ulp ln()
    difference between libms, and equal classes tie-break on doc_id
    identically). Spark side runs as map-side key + TakeOrdered top-k:
    nothing corpus-sized shuffles or reaches the driver."""
    from erpl_web_spark.operators.curation import weighted_sample

    d = load(spark, sf_dir, "documents")
    return weighted_sample(
        d, k=100, weight_col=F.greatest(F.col("n_chars"), F.lit(1)),
        id_col="doc_id", seed="ws12", hash_mode="md5",
    )


@register(
    "curation_weighted_threshold",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, CAST(GREATEST(n_chars, 1) AS DOUBLE) AS weight,
             -ln((CAST(CAST('0x' || substring(md5('wt13:' || CAST(doc_id AS VARCHAR)),
                                     1, 12) AS BIGINT) % 4096 AS DOUBLE) + 0.5)
                 / 4096.0)
               / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS e
      FROM documents
    ), cal AS (
      SELECT e FROM keyed
      WHERE CAST('0x' || substring(md5('wt13:cal:' || CAST(doc_id AS VARCHAR)),
                                   1, 12) AS BIGINT) % 4096 < 1024
    ), thr AS (
      SELECT COALESCE((SELECT e FROM cal ORDER BY e LIMIT 1 OFFSET 24),
                      1e308) AS t
    )
    SELECT doc_id, weight FROM keyed, thr WHERE e <= t
    """,
)
def curation_weighted_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibrated weighted sampling at corpus scale
    (curation.weighted_sample_threshold, md5 mode, VERDICT r12 Next
    #4): target k=100 documents weighted by n_chars, threshold
    calibrated on a deterministic 25% sample (m = 25th smallest key of
    the sample estimates the corpus's 100th), then drawn with one
    map-side filter — the path for draws too large for a top-k. The
    oracle replays the lattice uniform, the race-key formula, the
    calibration membership hash, AND the order-statistic threshold in
    SQL, so the value hash pins the entire calibrate-then-filter
    mechanism cross-engine; the achieved row count (the |achieved_k −
    k| concentration) is pinned by the driver's rows_match. Spark
    side: TakeOrdered of 25 calibration keys + one filter pass; zero
    corpus-sized shuffles."""
    from erpl_web_spark.operators.curation import weighted_sample_threshold

    d = load(spark, sf_dir, "documents")
    rows, _achieved = weighted_sample_threshold(
        d, k=100, weight_col=F.greatest(F.col("n_chars"), F.lit(1)),
        id_col="doc_id", seed="wt13", hash_mode="md5",
        calibration_frac=0.25,
    )
    return rows.select("doc_id", "weight")


@register(
    "text_token_diversity",
    oracle=f"""
    WITH per AS (
      SELECT doc_id, t AS tok, COUNT(*) AS n
      FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS t FROM documents)
      GROUP BY doc_id, t
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           1.0 - CAST(SUM(n * n) AS DOUBLE) / CAST(SUM(n) * SUM(n) AS DOUBLE)
             AS simpson_diversity
    FROM per GROUP BY doc_id
    """,
)
def text_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini–Simpson token diversity (1 - Σn²/N²): the repetition/quality
    signal that stays a ratio of exact integer sums, so it is
    bit-identical across engines (Shannon entropy's log is not)."""
    from erpl_web_spark.operators.text import with_token_diversity

    return with_token_diversity(load(spark, sf_dir, "documents", spread=True))


def _sql_jaccard_edges(src: str = "documents") -> str:
    """The shared exact-Jaccard edge + components fragment, with the
    corpus table parameterized so entries can run it over an augmented
    (planted) corpus CTE."""
    return f"""
    toks AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS __toks FROM {src}
    ), sh AS (
      SELECT doc_id, lang, {_SQL_SHINGLES} AS sh FROM toks
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3
    ), cc_edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ), reach(id, comp) AS (
      SELECT u, u FROM cc_edges
      UNION
      SELECT e.v, r.comp FROM reach r JOIN cc_edges e ON e.u = r.id
    ), components AS (
      SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    )
"""


_SQL_JACCARD_EDGES = _sql_jaccard_edges()


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_SQL_JACCARD_EDGES}
    SELECT id, component FROM components
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> document clusters: connected components (min
    reachable doc_id) over the exact 3-gram-Jaccard edge set, so each
    duplicate group keeps one representative. The oracle walks the same
    edges with a recursive CTE; the engine side is the O(log n)-round
    label-propagation operator (operators.graph) — per-round state is
    (long, long) rows, document bodies never enter the graph stage."""
    from erpl_web_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["lang"], shingle_k=3, threshold=0.3
    )
    return connected_components(pairs, "id_a", "id_b")


@register(
    "dedup_cluster_summary",
    oracle=f"""
    WITH RECURSIVE {_SQL_JACCARD_EDGES}
    SELECT component, COUNT(*) AS n_members,
           MIN(id) AS member_min, MAX(id) AS member_max
    FROM components GROUP BY component
    """,
)
def dedup_cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster roll-up over dedup_cluster_components: group sizes and id
    ranges — the table a curation pass filters against (keep
    id == component, drop the rest)."""
    from erpl_web_spark.operators.graph import component_summary, connected_components

    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["lang"], shingle_k=3, threshold=0.3
    )
    return component_summary(connected_components(pairs, "id_a", "id_b"))


@register(
    "embedding_quantize_stats",
    oracle="""
    WITH x AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
      FROM embeddings
    ), s AS (
      SELECT vec_id, xd,
             list_max(list_transform(xd, v -> abs(v))) / 127.0 AS scale
      FROM x
    ), q AS (
      SELECT vec_id, xd, scale,
             CASE WHEN scale > 0 THEN list_transform(
               xd, v -> CAST(greatest(least(round(v / scale), 127), -127) AS BIGINT))
             ELSE list_transform(xd, v -> CAST(0 AS BIGINT)) END AS qv
      FROM s
    )
    SELECT vec_id, scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           CAST(list_max(qv) AS BIGINT) AS q_max,
           list_max(list_transform(range(1, len(xd) + 1),
                                   i -> abs(xd[i] - qv[i] * scale))) AS max_abs_err
    FROM q
    """,
)
def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus, projected to
    per-vector scalars (the driver canonicalizer can't hash arrays):
    scale, sum/min/max of the int8 code, and the worst per-element
    reconstruction error — which also proves |err| <= scale/2 everywhere.
    Map-only; the quantized corpus is the 4x-smaller ANN shortlist
    input (operators.similarity.quantize_int8)."""
    from erpl_web_spark.operators.similarity import quantize_int8

    q = quantize_int8(load(spark, sf_dir, "embeddings", spread=True))
    qsum = F.aggregate(
        F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
    )
    err = F.array_max(
        F.zip_with(
            F.col("embedding"),
            F.col("q"),
            lambda x, qq: F.abs(x.cast("double") - qq.cast("double") * F.col("scale")),
        )
    )
    return q.select(
        "vec_id",
        "scale",
        qsum.alias("q_sum"),
        F.array_min("q").cast("long").alias("q_min"),
        F.array_max("q").cast("long").alias("q_max"),
        err.alias("max_abs_err"),
    )


@register(
    "similarity_ann_ivf_int8",
    oracle=_SQL_IVF_ASSIGNED
    + """
    , qasg AS (
      SELECT vec_id, emb, cell,
             CASE WHEN scale > 0 THEN list_transform(
               emb, v -> CAST(greatest(least(round(v / scale), 127), -127) AS DOUBLE))
             ELSE list_transform(emb, v -> 0.0) END AS qv
      FROM (
        SELECT vec_id, emb, cell,
               list_max(list_transform(emb, v -> abs(v))) / 127.0 AS scale
        FROM assigned
      )
    ), probe_cells AS (
      SELECT vec_id AS probe_id, emb AS probe_vec, cell FROM (
        SELECT vec_id, emb, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS crank
        FROM cscored WHERE vec_id < 100
      ) WHERE crank <= 2
    ), stage1 AS (
      SELECT p.probe_id, p.probe_vec, a.vec_id AS neighbor_id, a.emb,
             list_dot_product(p.probe_vec, a.qv)
               / (sqrt(list_dot_product(p.probe_vec, p.probe_vec))
                  * sqrt(list_dot_product(a.qv, a.qv))) AS qcos
      FROM probe_cells p JOIN qasg a USING (cell)
      WHERE p.probe_id <> a.vec_id
    ), short AS (
      SELECT probe_id, probe_vec, neighbor_id, emb FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY qcos DESC, neighbor_id) AS srank
        FROM stage1
      ) WHERE srank <= 10
    ), reranked AS (
      SELECT probe_id, neighbor_id,
             list_dot_product(probe_vec, emb)
               / (sqrt(list_dot_product(probe_vec, probe_vec))
                  * sqrt(list_dot_product(emb, emb))) AS cosine
      FROM short
    )
    SELECT probe_id, neighbor_id, CAST(rank AS INT) AS rank,
           ROUND(cosine, 6) AS cosine_r
    FROM (
      SELECT probe_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM reranked
    ) WHERE rank <= 3
    """,
)
def similarity_ann_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF ANN: int8 shortlist (asymmetric scoring — the
    per-vector scale cancels, so stage 1 runs on codes 4x smaller than
    float32), full-precision re-rank of the top-10 shortlist. Same
    deterministic quantizer as similarity_ann_ivf, so fully value-hash
    oracle-checked including the quantized stage-1 ordering."""
    from erpl_web_spark.operators.similarity import ann_top_k_ivf_rerank

    emb = load(spark, sf_dir, "embeddings", spread=True)
    probes = emb.where(F.col("vec_id") < 100)
    out = ann_top_k_ivf_rerank(
        emb, probes, "vec_id", "embedding", k=3, stride=50, nprobe=2, shortlist=10
    )
    return out.select(
        "probe_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine_r")
    )


@register(
    "pipeline_curate_corpus",
    oracle=f"""
    WITH RECURSIVE {_SQL_JACCARD_EDGES},
    exact_keep AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5({_SQL_NORM})
    ),
    near_drop AS (
      SELECT id AS doc_id FROM components WHERE id <> component
    ),
    quality AS (
      SELECT doc_id, {_SQL_QUALITY_KEEP} AS keep
      FROM documents
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(LENGTH(d.text) AS BIGINT)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(len({_SQL_TOKS.replace('text', 'd.text')}) AS BIGINT)) AS BIGINT)
             AS total_tokens
    FROM documents d
    JOIN exact_keep ek ON d.doc_id = ek.doc_id
    JOIN quality q ON d.doc_id = q.doc_id AND q.keep
    WHERE d.doc_id NOT IN (SELECT doc_id FROM near_drop)
    GROUP BY d.lang
    """,
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation, composed from the suite's own
    operators: exact dedup keepers (min doc_id per digest) -> near-dup
    cluster representatives (connected components over the exact-Jaccard
    edges; drop id != component) -> quality gate (>= 3 of 4 heuristics)
    -> per-language corpus stats. Every stage is one of the
    independently oracle-checked operators; this entry proves they
    compose. Shuffle posture: digests and (long, long) cluster labels
    shuffle, never document bodies; the final stats are one partial agg."""
    from erpl_web_spark.operators.graph import connected_components
    from erpl_web_spark.operators.text import tokens_expr

    docs = load(spark, sf_dir, "documents", spread=True)
    keepers = (
        exact_dedup_report(docs, "doc_id", "text")
        .select(F.col("keep_id").alias("doc_id"))
    )
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["lang"], shingle_k=3, threshold=0.3
    )
    near_drop = (
        connected_components(pairs, "id_a", "id_b")
        .where(F.col("id") != F.col("component"))
        .select(F.col("id").alias("doc_id"))
    )
    kept = (
        with_quality_score(docs)
        .where(F.col("quality_keep"))
        .join(keepers, "doc_id", "left_semi")
        .join(near_drop, "doc_id", "left_anti")
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text").cast("bigint")).alias("total_chars"),
        F.sum(F.size(tokens_expr(F.col("text"))).cast("bigint")).alias("total_tokens"),
    )


@register(
    "pipeline_curate_media",
    oracle=f"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text, text AS ptext FROM documents
      UNION ALL
      SELECT d.doc_id + b.base,
             'planted media duplicate variant row ' || CAST(d.doc_id AS VARCHAR),
             d.text
      FROM documents d
      CROSS JOIN (SELECT MAX(doc_id) + 1 AS base FROM documents) b
      WHERE d.doc_id < 12
    ), exact_keep AS (
      SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5({_SQL_NORM})
    ), esurv AS (
      SELECT c.* FROM corpus c JOIN exact_keep k ON c.doc_id = k.doc_id
    ), dh AS (
      SELECT doc_id, sha256(ptext || '0') AS d0, sha256(ptext || '1') AS d1,
             sha256(ptext || '2') AS d2
      FROM esurv
    ), cells AS (
      SELECT doc_id, list_transform(range(0, 72), i ->
        CAST('0x' || substr(CASE WHEN i < 32 THEN d0
                                 WHEN i < 64 THEN d1 ELSE d2 END,
                            CAST((i % 32) * 2 + 1 AS INT), 2) AS INT)) AS g
      FROM dh
    ), bits AS (
      SELECT doc_id, list_transform(range(0, 64), k ->
        CASE WHEN g[CAST((k // 8) * 9 + (k % 8) + 2 AS INT)]
                > g[CAST((k // 8) * 9 + (k % 8) + 1 AS INT)]
             THEN 1 ELSE 0 END) AS b
      FROM cells
    ), h AS (
      SELECT doc_id AS media_id,
        CAST(list_sum(list_transform(range(0, 32),
             k -> b[CAST(k + 1 AS INT)] * (CAST(1 AS BIGINT) << CAST(k AS INT))))
             AS BIGINT) AS dhash_hi,
        CAST(list_sum(list_transform(range(0, 32),
             k -> b[CAST(k + 33 AS INT)] * (CAST(1 AS BIGINT) << CAST(k AS INT))))
             AS BIGINT) AS dhash_lo
      FROM bits
    ), bands AS (
      SELECT media_id, dhash_hi, dhash_lo, t.b,
             CASE WHEN t.b < 2 THEN (dhash_hi >> CAST(16 * (t.b % 2) AS INT)) & 65535
                  ELSE (dhash_lo >> CAST(16 * (t.b % 2) AS INT)) & 65535
             END AS val
      FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t
    ), mpairs AS (
      SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
      FROM bands x JOIN bands y
        ON x.b = y.b AND x.val = y.val AND x.media_id < y.media_id
      WHERE bit_count(xor(x.dhash_hi, y.dhash_hi))
            + bit_count(xor(x.dhash_lo, y.dhash_lo)) <= 3
    ), cc_edges AS (
      SELECT id_a AS u, id_b AS v FROM mpairs
      UNION
      SELECT id_b AS u, id_a AS v FROM mpairs
    ), reach(id, comp) AS (
      SELECT u, u FROM cc_edges
      UNION
      SELECT e.v, r.comp FROM reach r JOIN cc_edges e ON e.u = r.id
    ), mcomp AS (
      SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    ), msurv AS (
      SELECT e.* FROM esurv e
      WHERE e.doc_id NOT IN (SELECT id FROM mcomp WHERE id <> component)
    ), qsurv AS (
      SELECT doc_id FROM msurv
      WHERE {_SQL_QUALITY_KEEP}
    )
    SELECT 'input' AS stage, CAST((SELECT COUNT(*) FROM corpus) AS BIGINT) AS n
    UNION ALL
    SELECT 'exact_dedup_dropped',
           (SELECT COUNT(*) FROM corpus) - (SELECT COUNT(*) FROM esurv)
    UNION ALL
    SELECT 'media_dedup_dropped',
           (SELECT COUNT(*) FROM esurv) - (SELECT COUNT(*) FROM msurv)
    UNION ALL
    SELECT 'quality_dropped',
           (SELECT COUNT(*) FROM msurv) - (SELECT COUNT(*) FROM qsurv)
    UNION ALL
    SELECT 'output', (SELECT COUNT(*) FROM qsurv)
    """,
)
def pipeline_curate_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curate() facade's mixed text+media composition, per-stage
    accounting oracle-checked: exact text dedup -> perceptual media
    dedup (dHash over the payload column; stub kernel forced so the
    hashes are the deterministic sha256 grid both engines compute) ->
    quality gate, returning the facade's (stage, n) report. Planting:
    each of the first 12 documents gets a re-keyed twin with a FRESH
    text (unique, quality-passing) but the ORIGINAL document's payload
    bytes — invisible to both text stages, caught only by the media
    stage (min-id original survives, twin drops), so
    ``media_dedup_dropped`` is non-vacuous at every scale factor; twin
    ids offset by max(doc_id)+1, collision-free at any scale. The
    oracle replays all three stages including the full dHash banding
    arithmetic, so even improbable band-collision pairs agree
    (erpl_web_spark.pipeline.curate, media stage pipeline.py)."""
    from erpl_web_spark.pipeline import CurationConfig, curate

    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    base = docs.agg((F.max("doc_id") + F.lit(1)).alias("_base"))
    planted = (
        docs.where(F.col("doc_id") < 12)
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("doc_id") + F.col("_base")).alias("doc_id"),
            F.concat(
                F.lit("planted media duplicate variant row "),
                F.col("doc_id").cast("string"),
            ).alias("text"),
            F.col("text").cast("binary").alias("payload"),
        )
    )
    corpus = docs.select(
        "doc_id", "text", F.col("text").cast("binary").alias("payload")
    ).unionByName(planted)
    kept, report = curate(
        corpus,
        CurationConfig(
            near_dedup=False,
            media_dedup=True,
            media_decode_stub=True,
        ),
    )
    kept.unpersist()  # only the accounting is under test here
    return report.select("stage", F.col("n").cast("bigint").alias("n"))


@register(
    "pipeline_curate_lines",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 2 = 0
                       THEN chr(10) || 'all rights reserved footer boilerplate'
                       ELSE '' END
               || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || 'promo banner on every third page'
                       ELSE '' END
               || chr(10) || 'unique closing line for document ' || doc_id
               AS text
      FROM documents
      UNION ALL
      SELECT (SELECT MAX(doc_id) + 1 FROM documents) + v.off, v.t
      FROM (VALUES (0, '87 55 13'), (1, 'a b'), (2, '!! ?? ,,')) v(off, t)
    ), s AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines FROM aug
    ), l AS (
      SELECT doc_id, generate_subscripts(lines, 1) AS pos,
             trim(lines[generate_subscripts(lines, 1)]) AS line
      FROM s
    ), le AS (
      SELECT doc_id, pos, line FROM l WHERE line <> ''
    ), stats AS (
      SELECT line, COUNT(DISTINCT doc_id) AS n_docs FROM le GROUP BY line
    ), j AS (
      SELECT le.doc_id, le.pos, le.line, st.n_docs
      FROM le JOIN stats st USING (line)
    ), rebuilt AS (
      SELECT doc_id,
             CAST(COUNT(*) AS INT) AS n_lines,
             CAST(COUNT(*) FILTER (WHERE n_docs <= 1) AS INT) AS n_kept,
             COALESCE(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (WHERE n_docs <= 1), '') AS clean_text
      FROM j GROUP BY doc_id
    ), after AS (
      SELECT a.doc_id,
             CASE WHEN r.n_kept < r.n_lines THEN r.clean_text ELSE a.text END
               AS text
      FROM aug a JOIN rebuilt r USING (doc_id)
    ), qsurv AS (
      SELECT doc_id FROM after WHERE {_SQL_QUALITY_KEEP}
    )
    SELECT 'input' AS stage, CAST((SELECT COUNT(*) FROM aug) AS BIGINT) AS n
    UNION ALL
    SELECT 'line_dedup_modified',
           (SELECT COUNT(*) FROM rebuilt WHERE n_kept < n_lines)
    UNION ALL
    SELECT 'quality_dropped',
           (SELECT COUNT(*) FROM after) - (SELECT COUNT(*) FROM qsurv)
    UNION ALL
    SELECT 'output', (SELECT COUNT(*) FROM qsurv)
    """,
)
def pipeline_curate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curate() facade's line-dedup composition, per-stage
    accounting oracle-checked: cross-document line dedup (rewrite) ->
    quality gate scoring the REBUILT text, returning the facade's
    (stage, n) report. Planting: every doc gets a unique closing line
    (never hot), even docs a shared footer and every third doc a promo
    line (both hot -> dropped, so ``line_dedup_modified`` covers 2/3
    of the corpus and varies by SF), plus the three re-keyed
    low-quality rows from text_quality (single-line, untouched by the
    line stage, dropped by the gate) so ``quality_dropped`` is
    non-vacuous. The oracle replays the full digest-count -> rebuild ->
    quality-on-rebuilt chain (erpl_web_spark.pipeline.curate,
    line_dedup stage)."""
    from erpl_web_spark.pipeline import CurationConfig, curate

    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("\nall rights reserved footer boilerplate"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\npromo banner on every third page"),
            ).otherwise(F.lit("")),
            F.lit("\nunique closing line for document "),
            F.col("doc_id").cast("string"),
        ),
    )
    base = docs.agg((F.max("doc_id") + F.lit(1)).alias("_b"))
    bad = (
        local_rows(spark, [(0, "87 55 13"), (1, "a b"), (2, "!! ?? ,,")], "off long, t string")
        .crossJoin(F.broadcast(base))
        .select((F.col("_b") + F.col("off")).alias("doc_id"), F.col("t").alias("text"))
    )
    corpus = aug.unionByName(bad)
    kept, report = curate(
        corpus,
        CurationConfig(
            exact_dedup=False,
            near_dedup=False,
            line_dedup=True,
            quality_gate=True,
        ),
    )
    kept.unpersist()  # only the accounting is under test here
    return report.select("stage", F.col("n").cast("bigint").alias("n"))


@register(
    "pipeline_shuffle_order",
    oracle="""
    SELECT doc_id,
           CAST('0x' || substring(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             AS shuffle_key
    FROM documents
    ORDER BY shuffle_key, doc_id
    LIMIT 25
    """,
)
def pipeline_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic epoch shuffle: the head of the seed-7 order
    (md5 engine-portable contract; xxhash64 is the production fast
    path). TakeOrderedAndProject keeps the top-25 probe scalable; a full
    epoch materializes via repartitionByRange + sortWithinPartitions —
    a distributed range sort, never a one-partition window."""
    from erpl_web_spark.operators.curation import seeded_shuffle_key

    d = seeded_shuffle_key(
        load(spark, sf_dir, "documents"), "doc_id", seed=7, method="md5"
    )
    from erpl_web_spark.suite.relational import top_k

    return top_k(
        d.select("doc_id", "shuffle_key"),
        [F.col("shuffle_key").asc(), F.col("doc_id").asc()],
        25,
    )


@register(
    "cdc_apply_merge",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer
    ), changes AS (
      SELECT o_custkey AS c_custkey,
             'cust_' || CAST(o_custkey AS VARCHAR) AS c_name,
             o_totalprice AS c_acctbal,
             CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
             o_orderdate, o_orderkey
      FROM orders
    ), latest AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY c_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM changes
      ) WHERE rn = 1
    )
    SELECT b.c_custkey, b.c_name, b.c_acctbal
    FROM base b LEFT JOIN latest l ON b.c_custkey = l.c_custkey
    WHERE l.c_custkey IS NULL
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op <> 'D'
    """,
)
def cdc_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply semantics, oracle-checked: orders become a change feed
    over the customer snapshot (full row images; latest change per key
    by (o_orderdate, o_orderkey); status 'P' deletes, others upsert).
    One key-partitioned window + an anti-join that reuses the same key
    partitioning — the operators.cdc merge that the ODP streaming sink
    applies per micro-batch."""
    from erpl_web_spark.operators.cdc import apply_cdc_changes

    base = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    o = load(spark, sf_dir, "orders")
    changes = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("cust_"), F.col("o_custkey").cast("string")).alias("c_name"),
        F.col("o_totalprice").alias("c_acctbal"),
        F.when(F.col("o_orderstatus") == "P", "D").otherwise("U").alias("op"),
        "o_orderdate",
        "o_orderkey",
    )
    return apply_cdc_changes(
        base, changes, ["c_custkey"], op_col="op",
        seq_cols=["o_orderdate", "o_orderkey"],
    )


@register(
    "cdc_scd2_intervals",
    oracle="""
    WITH changes AS (
      SELECT o_custkey AS c_custkey,
             'cust_' || CAST(o_custkey AS VARCHAR) AS c_name,
             o_totalprice AS c_acctbal,
             CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
             o_orderdate, o_orderkey
      FROM orders
    ), iv AS (
      SELECT c_custkey, c_name, c_acctbal, op, o_orderdate, o_orderkey,
             LEAD(o_orderdate) OVER w AS end_o_orderdate,
             LEAD(o_orderkey) OVER w AS end_o_orderkey
      FROM changes
      WINDOW w AS (PARTITION BY c_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT c_custkey, c_name, c_acctbal, o_orderdate, o_orderkey,
           end_o_orderdate,
           CAST(end_o_orderkey AS DOUBLE) AS end_o_orderkey,
           (end_o_orderdate IS NULL) AS is_current
    FROM iv WHERE op <> 'D'
    """,
)
def cdc_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history (operators.cdc.scd2_intervals) over the same
    orders-as-change-feed fixture cdc_apply_merge uses: every change
    becomes a validity interval [its (o_orderdate, o_orderkey), the
    next change's), deletes (status 'P') close intervals without
    opening one, the latest surviving change per key carries
    is_current. The warehouse treatment of an ODP delta feed — full
    history for as-of joins, where apply_cdc_changes keeps only the
    latest image. The oracle replays the lead() window and the
    delete-filter order exactly (lead BEFORE filtering, so a delete
    closes its predecessor). One key-partitioned window shuffle."""
    from erpl_web_spark.operators.cdc import scd2_intervals

    o = load(spark, sf_dir, "orders")
    changes = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("cust_"), F.col("o_custkey").cast("string")).alias("c_name"),
        F.col("o_totalprice").alias("c_acctbal"),
        F.when(F.col("o_orderstatus") == "P", "D").otherwise("U").alias("op"),
        "o_orderdate",
        "o_orderkey",
    )
    out = scd2_intervals(
        changes, ["c_custkey"], ["o_orderdate", "o_orderkey"], op_col="op"
    )
    # nullable BIGINT round-trips as float64 through the oracle's
    # pandas frame; cast on both sides (orderkeys < 2^53, exact)
    return out.withColumn("end_o_orderkey", F.col("end_o_orderkey").cast("double"))


@register(
    "cdc_scd2_asof_lookup",
    oracle="""
    WITH changes AS (
      SELECT o_custkey AS c_custkey,
             o_totalprice AS c_acctbal,
             CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderkey
      FROM orders
    ), iv AS (
      SELECT c_custkey, c_acctbal, op, o_orderdate, o_orderkey,
             LEAD(o_orderdate) OVER w AS end_o_orderdate,
             LEAD(o_orderkey) OVER w AS end_o_orderkey
      FROM changes
      WINDOW w AS (PARTITION BY c_custkey ORDER BY o_orderdate, o_orderkey)
    ), hist AS (
      SELECT *, (end_o_orderdate IS NULL) AS is_current
      FROM iv WHERE op <> 'D'
    ), f AS (
      SELECT o_orderkey AS fact_key, o_custkey,
             CAST(o_orderdate AS DATE) + 30 AS ts_date
      FROM orders
    )
    SELECT f.fact_key, f.o_custkey AS c_custkey,
           h.o_orderdate AS from_date,
           h.c_acctbal AS asof_acctbal,
           COALESCE(CAST(h.is_current AS INT), -1) AS is_current
    FROM f LEFT JOIN hist h
      ON h.c_custkey = f.o_custkey
     AND (h.o_orderdate, h.o_orderkey) <= (f.ts_date, f.fact_key)
     AND (h.end_o_orderdate IS NULL
          OR (f.ts_date, f.fact_key) < (h.end_o_orderdate, h.end_o_orderkey))
    """,
)
def cdc_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 history
    (cdc.scd2_asof_lookup): for every order, the dimension image of
    its customer valid 30 days after the order date — the query SCD2
    exists to answer, and the consumer proving the intervals PARTITION
    each key's timeline (the key equi-join + range filter yields at
    most one match per fact structurally, no dedup; facts landing on
    a deleted gap get NULLs). Planned as a hash join keyed on custkey
    with the interval range as a post-filter — per-key fan-out bounded
    by that key's change count, no theta join. The oracle replays the
    composite-tuple comparisons lexicographically."""
    from erpl_web_spark.operators.cdc import scd2_asof_lookup, scd2_intervals

    o = load(spark, sf_dir, "orders")
    changes = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_totalprice").alias("c_acctbal"),
        F.when(F.col("o_orderstatus") == "P", "D").otherwise("U").alias("op"),
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderkey",
    )
    hist = scd2_intervals(
        changes, ["c_custkey"], ["o_orderdate", "o_orderkey"], op_col="op"
    )
    facts = o.select(
        F.col("o_orderkey").alias("fact_key"),
        F.col("o_custkey").alias("c_custkey"),
        F.date_add(F.col("o_orderdate"), 30).alias("ts_date"),
    )
    out = scd2_asof_lookup(
        facts, hist, ["c_custkey"],
        fact_seq=["ts_date", "fact_key"],
        hist_seq=["o_orderdate", "o_orderkey"],
    )
    return out.select(
        "fact_key", "c_custkey",
        F.col("o_orderdate").alias("from_date"),
        F.col("c_acctbal").alias("asof_acctbal"),
        # nullable BOOLEAN renders differently through the two pandas
        # paths (None vs NaN); encode as non-null int (-1 = no match)
        F.coalesce(F.col("is_current").cast("int"), F.lit(-1)).alias(
            "is_current"
        ),
    )


@register(
    "quality_expectations",
    oracle="""
    WITH aug AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
      UNION ALL
      SELECT * FROM (VALUES
        (CAST(-1 AS BIGINT), CAST(NULL AS BIGINT), 'O', CAST(10.0 AS DOUBLE)),
        (-2, 999999991, 'O', 10.0),
        (-3, 999999992, 'O', 10.0),
        (-4, 999999993, 'O', -5.0),
        (-5, 999999994, 'O', -7.5),
        (-6, 999999995, 'F', -1.0),
        (-7, 999999996, 'X', 10.0),
        (-100, 999999997, 'O', 10.0),
        (-100, 999999998, 'O', 11.0)
      ) v(o_orderkey, o_custkey, o_orderstatus, o_totalprice)
    ), rc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN NOT COALESCE(o_orderkey IS NOT NULL, FALSE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS f_complete_orderkey,
             CAST(SUM(CASE WHEN NOT COALESCE(o_custkey IS NOT NULL, FALSE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS f_complete_custkey,
             CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice >= 0, FALSE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS f_nonneg_totalprice,
             CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('F','O','P'), FALSE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS f_status_domain,
             CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)
               AS f_unique_orderkey
      FROM aug
    ), rows_part AS (
      SELECT 'complete_orderkey' AS check_name, n_rows,
             f_complete_orderkey AS n_failed FROM rc
      UNION ALL
      SELECT 'complete_custkey', n_rows, f_complete_custkey FROM rc
      UNION ALL
      SELECT 'nonneg_totalprice', n_rows, f_nonneg_totalprice FROM rc
      UNION ALL
      SELECT 'status_domain', n_rows, f_status_domain FROM rc
      UNION ALL
      SELECT 'unique_orderkey', n_rows, f_unique_orderkey FROM rc
      UNION ALL
      SELECT 'ri_custkey_in_customer',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM aug
              WHERE o_custkey IS NOT NULL),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM aug o
              WHERE o.o_custkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
    )
    SELECT check_name, n_rows, n_failed,
           CAST(n_failed = 0 AS INT) AS passed
    FROM rows_part
    """,
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators.expectations) over
    orders augmented with nine PLANTED violations (the driver corpus
    is clean, which would leave every failure counter vacuously zero
    — round-8 vacuity lesson): a NULL custkey, three negative prices,
    a bad status, a duplicated orderkey pair, and six orphan custkeys.
    Five single-pass row/uniqueness checks plus referential integrity
    against the customer dimension (one broadcast left-anti join) —
    failure counts land 1/1/3/1/1/8 with one check (orderkey
    completeness) passing, so BOTH report paths sit in the value
    hash. All row checks share ONE aggregate pass (adding a check
    adds a column, not a scan); the publish gate every batch pipeline
    runs before promoting data."""
    from erpl_web_spark.operators.expectations import (
        quality_report,
        referential_report,
    )

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    dirty = local_rows(spark,
        [
            (-1, None, "O", 10.0),
            (-2, 999999991, "O", 10.0),
            (-3, 999999992, "O", 10.0),
            (-4, 999999993, "O", -5.0),
            (-5, 999999994, "O", -7.5),
            (-6, 999999995, "F", -1.0),
            (-7, 999999996, "X", 10.0),
            (-100, 999999997, "O", 10.0),
            (-100, 999999998, "O", 11.0),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double",
    )
    aug = base.unionByName(dirty)
    c = load(spark, sf_dir, "customer")
    rep = quality_report(
        aug,
        row_checks={
            "complete_orderkey": F.col("o_orderkey").isNotNull(),
            "complete_custkey": F.col("o_custkey").isNotNull(),
            "nonneg_totalprice": F.col("o_totalprice") >= 0,
            "status_domain": F.col("o_orderstatus").isin("F", "O", "P"),
        },
        unique_keys={"unique_orderkey": ["o_orderkey"]},
    )
    ri = referential_report(
        aug,
        c.select(F.col("c_custkey").alias("o_custkey")),
        ["o_custkey"],
        "ri_custkey_in_customer",
    )
    # the RI child frame filters NULL keys, so its n_rows baseline is
    # the non-null count - matching the oracle's scalar subqueries
    return rep.unionByName(ri)


@register(
    "quality_drift_report",
    oracle="""
    WITH b AS (
      SELECT o_orderkey % 3 AS bid0, o_orderkey, o_custkey, o_orderpriority
      FROM orders
    ), batches AS (
      SELECT CAST(bid0 AS BIGINT) AS bid, o_custkey,
             CASE WHEN bid0 = 2 AND o_orderkey % 4 = 0
                  THEN NULL ELSE o_orderpriority END AS o_orderpriority
      FROM b
      WHERE bid0 < 2 OR o_orderkey % 5 <> 0
    ), m AS (
      SELECT bid,
             CAST(COUNT(*) AS DOUBLE) AS n_rows,
             CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS n_keys,
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS nullrate
      FROM batches GROUP BY bid
    ), pairs AS (
      SELECT c.bid AS curr_batch,
             p.n_rows AS pn, c.n_rows AS cn,
             p.n_keys AS pk, c.n_keys AS ck,
             p.nullrate AS pr, c.nullrate AS cr
      FROM m p JOIN m c ON c.bid = p.bid + 1
    ), tall AS (
      SELECT curr_batch, 'n_rows' AS metric, pn AS prev_value,
             cn AS curr_value, 'rel' AS mode, 0.1 AS max_delta FROM pairs
      UNION ALL
      SELECT curr_batch, 'n_distinct_keys', pk, ck, 'rel', 0.25 FROM pairs
      UNION ALL
      SELECT curr_batch, 'null_rate:o_orderpriority', pr, cr, 'abs', 0.1 FROM pairs
    ), d AS (
      SELECT *,
             CASE WHEN mode = 'abs' THEN abs(curr_value - prev_value)
                  WHEN prev_value > 0 THEN abs(curr_value / prev_value - 1.0)
                  WHEN curr_value = 0 THEN 0.0
                  ELSE NULL END AS raw_delta
      FROM tall
    )
    SELECT curr_batch, metric, prev_value, curr_value,
           ROUND(raw_delta, 6) AS delta_r, mode, max_delta,
           CAST(raw_delta IS NOT NULL AND raw_delta <= max_delta AS INT)
             AS passed
    FROM d
    """,
)
def quality_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch drift gate (operators.expectations drift tier,
    VERDICT r13 Next #5): orders arrive as three batches split on
    o_orderkey % 3, each batch's profile metrics (row count, distinct
    custkeys, o_orderpriority null rate) manifest-committed via metrics_apply;
    drift_report then compares consecutive committed batches under
    per-metric tolerances. Batch 2 carries PLANTED drift — one in five
    rows dropped (rel row-count drift ~0.2 > the 0.1 tolerance) and
    o_orderpriority nulled on orderkey % 4 = 0 (abs null-rate drift ~0.19 >
    0.1) — so the batch 0->1 pair passes everything and the 1->2 pair
    fails two of three checks: BOTH report paths sit in the value
    hash. The oracle recomputes the same metrics and drift formula
    straight from the table — it knows nothing about the on-disk
    history, so hash equality also proves the manifest round-trip is
    lossless. Metrics state is metrics-many rows per batch; the report
    never rescans the corpus."""
    import shutil
    import tempfile

    from erpl_web_spark.operators.expectations import drift_report, metrics_apply

    o = load(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 3).alias("bid"), "o_orderkey", "o_custkey", "o_orderpriority"
    )
    tolerances = {
        "n_rows": ("rel", 0.1),
        "n_distinct_keys": ("rel", 0.25),
        "null_rate:o_orderpriority": ("abs", 0.1),
    }
    tmp = tempfile.mkdtemp(prefix="driftidx-suite-")
    try:
        for bid in (0, 1, 2):
            batch = o.where(F.col("bid") == bid)
            if bid == 2:
                batch = batch.where(F.col("o_orderkey") % 5 != 0).withColumn(
                    "o_orderpriority",
                    F.when(F.col("o_orderkey") % 4 == 0, F.lit(None)).otherwise(
                        F.col("o_orderpriority")
                    ),
                )
            metrics_apply(
                batch, bid, tmp, key_cols=["o_custkey"], rate_cols=["o_orderpriority"]
            )
        pair01 = drift_report(spark, tmp, tolerances, before=2)
        pair12 = drift_report(spark, tmp, tolerances)
        rows = (
            pair01.unionByName(pair12)
            .select(
                "curr_batch", "metric", "prev_value", "curr_value",
                F.round("delta", 6).alias("delta_r"), "mode", "max_delta",
                "passed",
            )
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_rows(spark,
        rows,
        "curr_batch long, metric string, prev_value double, curr_value double, "
        "delta_r double, mode string, max_delta double, passed int",
    )


@register(
    "quality_drift_histogram",
    oracle="""
    WITH b AS (
      SELECT CAST(o_orderkey % 2 AS BIGINT) AS bid,
             CASE WHEN o_orderkey % 2 = 1 AND o_orderkey % 3 = 0
                  THEN o_totalprice * 1.4 ELSE o_totalprice END AS v
      FROM orders
    ), binned AS (
      SELECT bid,
             LEAST(5, GREATEST(0,
               CAST(FLOOR((v - 0.0) / 480000.0 * 6) AS INT))) AS bin
      FROM b WHERE v IS NOT NULL
    ), cnt AS (
      SELECT bid, bin, COUNT(*) AS c FROM binned GROUP BY bid, bin
    ), tot AS (
      SELECT bid, COUNT(*) AS tn FROM binned GROUP BY bid
    ), bins AS (SELECT CAST(UNNEST(range(6)) AS INT) AS bin),
    grid AS (SELECT DISTINCT bid FROM b),
    shares AS (
      SELECT p.bid, p.bin, CAST(COALESCE(c.c, 0) AS DOUBLE) / t.tn AS share
      FROM (SELECT bid, bin FROM grid CROSS JOIN bins) p
      LEFT JOIN cnt c ON c.bid = p.bid AND c.bin = p.bin
      JOIN tot t ON t.bid = p.bid
    )
    SELECT CAST(1 AS BIGINT) AS curr_batch,
           'hist:o_totalprice:' || CAST(s0.bin AS VARCHAR) AS metric,
           s0.share AS prev_value, s1.share AS curr_value,
           ROUND(abs(s1.share - s0.share), 6) AS delta_r,
           'abs' AS mode, 0.03 AS max_delta,
           CAST(abs(s1.share - s0.share) <= 0.03 AS INT) AS passed
    FROM shares s0 JOIN shares s1
      ON s1.bin = s0.bin AND s0.bid = 0 AND s1.bid = 1
    """,
)
def quality_drift_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift drift check (expectations hist_cols, round
    14): per-bin o_totalprice SHARES under fixed 6-bin equi-width
    binning on [0, 480000) (outliers clamp into the edge bins), each
    bin's abs share delta between two order batches checked against a
    0.03 tolerance via hist_tolerances. Batch 1 carries a PLANTED
    shift — every third odd-key order's price scaled x1.4, pushing
    mass into the top bin (delta ~0.08, FAILS) while the middle bins
    stay within tolerance (PASS) — so both report paths sit in the
    value hash at every SF. Fixed bins, not quantiles, deliberately:
    shares are exact count ratios (bit-identical cross-engine,
    mergeable inside ONE aggregate pass per batch); the oracle
    recomputes binning + shares + drift straight from the table,
    proving the manifest metrics round-trip lossless."""
    import shutil
    import tempfile

    from erpl_web_spark.operators.expectations import (
        drift_report,
        hist_tolerances,
        metrics_apply,
    )

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    shifted = o.withColumn(
        "o_totalprice",
        F.when(
            (F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 3 == 0),
            F.col("o_totalprice") * 1.4,
        ).otherwise(F.col("o_totalprice")),
    )
    tmp = tempfile.mkdtemp(prefix="drifthist-suite-")
    try:
        for bid in (0, 1):
            metrics_apply(
                shifted.where(F.col("o_orderkey") % 2 == bid),
                bid,
                tmp,
                hist_cols={"o_totalprice": (0.0, 480000.0, 6)},
            )
        rep = drift_report(spark, tmp, hist_tolerances("o_totalprice", 6, 0.03))
        rows = (
            rep.select(
                "curr_batch", "metric", "prev_value", "curr_value",
                F.round("delta", 6).alias("delta_r"), "mode", "max_delta",
                "passed",
            )
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_rows(spark,
        rows,
        "curr_batch long, metric string, prev_value double, curr_value double, "
        "delta_r double, mode string, max_delta double, passed int",
    )


@register(
    "quality_drift_quantiles",
    oracle="""
    WITH b AS (
      SELECT CAST(o_orderkey % 2 AS BIGINT) AS bid,
             CAST(floor((CASE WHEN o_orderkey % 2 = 1 AND o_orderkey % 3 = 0
                  THEN o_totalprice * 1.4 ELSE o_totalprice END) * 100)
               AS BIGINT) AS v
      FROM orders
    ), sb AS (
      SELECT bid, v, greatest(length(format('{:b}', v)) - 1 - 4, 0) AS s
      FROM b WHERE v >= 0
    ), sk AS (
      SELECT bid, ((v >> s) << s) AS edge, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM sb GROUP BY 1, 2
    ), cum AS (
      SELECT bid, edge,
             CAST(SUM(cnt) OVER (PARTITION BY bid ORDER BY edge) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY bid) AS BIGINT) AS n
      FROM sk
    ), qs AS (SELECT unnest([500, 900, 990]) AS q),
    est AS (
      SELECT bid, q, MIN(edge) AS e
      FROM qs JOIN cum
        ON cum.cum >= (CAST(q AS BIGINT) * cum.n + 999) // 1000
      GROUP BY 1, 2
    ), d AS (
      SELECT c.q, CAST(p.e AS DOUBLE) AS prev_value,
             CAST(c.e AS DOUBLE) AS curr_value,
             abs(CAST(c.e AS DOUBLE) / p.e - 1.0) AS raw_delta
      FROM est p JOIN est c ON c.q = p.q AND p.bid = 0 AND c.bid = 1
    )
    SELECT CAST(1 AS BIGINT) AS curr_batch,
           'q:v_cents:' || CAST(q AS VARCHAR) AS metric,
           prev_value, curr_value,
           ROUND(raw_delta, 6) AS delta_r, 'rel' AS mode,
           0.2 AS max_delta,
           CAST(raw_delta <= 0.2 AS INT) AS passed
    FROM d
    """,
)
def quality_drift_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-drift tier of the cross-batch gate (expectations.
    quantile_metrics — the qsketch log-bucket edges as persisted
    metrics): p50/p90/p99 of order price CENTS compared between two
    batches under a 0.2 rel tolerance. Where quality_drift_histogram
    needs a [lo, hi) domain fixed in advance, the log buckets adapt
    to any magnitude — the check that catches a p99 quietly drifting
    into a new decade. Batch 1 carries the SAME planted x1.4 shift as
    the histogram entry: p50 and p90 move one-to-two buckets
    (rel ~0.08-0.13, PASS) while p99 jumps ~0.35-0.39 (FAIL) at every
    SF — both report paths in the value hash. Integer edges cast to
    exact doubles make the rel arithmetic bit-identical cross-engine;
    the oracle recomputes both batch sketches straight from the
    table, proving the manifest metrics round-trip lossless."""
    import shutil
    import tempfile

    from erpl_web_spark.operators.expectations import (
        drift_report,
        metrics_apply,
        quantile_tolerances,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "CAST(floor((CASE WHEN o_orderkey % 2 = 1 AND o_orderkey % 3 = 0 "
            "THEN o_totalprice * 1.4 ELSE o_totalprice END) * 100) AS BIGINT)"
        ).alias("v_cents"),
    )
    tmp = tempfile.mkdtemp(prefix="driftq-suite-")
    try:
        for bid in (0, 1):
            metrics_apply(
                o.where(F.col("o_orderkey") % 2 == bid),
                bid,
                tmp,
                quantile_cols={"v_cents": [500, 900, 990]},
            )
        rep = drift_report(
            spark, tmp, quantile_tolerances("v_cents", [500, 900, 990], 0.2)
        )
        rows = (
            rep.select(
                "curr_batch", "metric", "prev_value", "curr_value",
                F.round("delta", 6).alias("delta_r"), "mode", "max_delta",
                "passed",
            )
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_rows(spark,
        rows,
        "curr_batch long, metric string, prev_value double, curr_value double, "
        "delta_r double, mode string, max_delta double, passed int",
    )


@register(
    "dedup_cluster_minhash_md5",
    oracle=f"""
    WITH RECURSIVE {_SQL_TWIN_CTES}{_SQL_MINHASH_MD5_PAIRS},
    cc_edges AS (
      SELECT id_a AS u, id_b AS v FROM mh_pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM mh_pairs
    ), reach(id, comp) AS (
      SELECT u, u FROM cc_edges
      UNION
      SELECT e.v, r.comp FROM reach r JOIN cc_edges e ON e.u = r.id
    ), components AS (
      SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    )
    SELECT id, component FROM components
    """,
)
def dedup_cluster_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production clustering COMPOSITION (MinHash+LSH candidates ->
    exact-Jaccard verify -> connected components) under
    ``hash_mode="md5"`` — the oracle twin for dedup_cluster_minhash,
    whose xxhash64 banding keeps it rows-only + golden-pinned: here
    the full composed output is value-hash-checked, with the oracle
    rebuilding the md5 pair chain and walking the SAME edge set with a
    recursive CTE against the engine's label-propagation operator.
    Twin corpus as in dedup_minhash_lsh_md5, so clusters span base
    docs AND their planted near-dups. Recursive-CTE oracle family."""
    from erpl_web_spark.operators.graph import connected_components

    corpus = _token_drop_twin_corpus(load(spark, sf_dir, "documents", spread=True))
    pairs = minhash_lsh_pairs(
        corpus, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
        hash_mode="md5",
    )
    return connected_components(pairs, "id_a", "id_b")


@register("dedup_cluster_minhash", oracle=None)
def dedup_cluster_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup clustering composition: MinHash+LSH
    candidates -> exact-Jaccard verify (>= 0.5) -> connected components
    -> cluster labels. Rows-only driver check (seeded-hash banding is
    not SQL-expressible), but every stage is independently verified:
    the pair math by dedup_ngram_jaccard, the LSH pair set by
    dedup_minhash_lsh, the component math by dedup_cluster_components'
    recursive-CTE oracle — and the full composed output is pinned as a
    golden fixture (tests/fixtures/golden/dedup_cluster_minhash.json,
    asserted by tests/test_golden_fixtures.py)."""
    from erpl_web_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5)
    return connected_components(pairs, "id_a", "id_b")


_SQL_GRAMS5 = (
    "list_transform(range(1, greatest(len(__toks) - 4, 0) + 1), "
    "i -> array_to_string(__toks[i:i+4], ' '))"
)


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS __toks FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_GRAMS5})) AS gram FROM toks
    )
    SELECT gram, COUNT(*) AS n_docs
    FROM sh GROUP BY gram HAVING COUNT(*) >= 3
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated 5-grams (document frequency >= 3) — the
    template/boilerplate signal organic text never triggers."""
    from erpl_web_spark.operators.text import boilerplate_ngrams

    return boilerplate_ngrams(
        load(spark, sf_dir, "documents", spread=True), "doc_id", "text", k=5, min_docs=3
    )


@register(
    "text_boilerplate_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS __toks FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_GRAMS5})) AS gram FROM toks
    ), tagged AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY gram) AS df_count FROM sh
    )
    SELECT doc_id, COUNT(*) AS n_grams,
           CAST(SUM((df_count >= 3)::INT) AS BIGINT) AS n_boiler,
           CAST(SUM((df_count >= 3)::INT) AS DOUBLE) / COUNT(*) AS boiler_ratio
    FROM tagged GROUP BY doc_id
    """,
)
def text_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate contamination ratio: one gram-keyed
    window shuffle + one doc-keyed roll-up; the explode subtree is
    computed once (no self-join)."""
    from erpl_web_spark.operators.text import with_boilerplate_ratio

    return with_boilerplate_ratio(
        load(spark, sf_dir, "documents", spread=True), "doc_id", "text", k=5, min_docs=3
    )


@register(
    "multimodal_tiles",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(CEIL(LENGTH(text) / 8.0) AS INT) AS w,
             CAST((1 + doc_id % 3) * 8 AS INT) AS h
      FROM documents
    ), t AS (
      SELECT media_id, w, h,
             CAST(unnest(range(0, GREATEST(CAST(CEIL((w - 16) / 16.0) AS INT) + 1, 1)))
               AS INT) AS tile_x
      FROM m
    ), t2 AS (
      SELECT media_id, w, h, tile_x,
             CAST(unnest(range(0, GREATEST(CAST(CEIL((h - 16) / 16.0) AS INT) + 1, 1)))
               AS INT) AS tile_y
      FROM t
    )
    SELECT media_id, tile_x, tile_y,
           CAST(tile_x * 16 AS INT) AS px_x, CAST(tile_y * 16 AS INT) AS px_y,
           CAST(LEAST(16, w - tile_x * 16) AS INT) AS px_w,
           CAST(LEAST(16, h - tile_y * 16) AS INT) AS px_h
    FROM t2
    """,
)
def multimodal_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch-grid fan-out: a 2-D explode over JVM-computed
    sequences — the distributed shape of a tiling preprocessor, decode
    kernel stubbed as elsewhere. The fake metadata is 2-D (width =
    ceil(len/8), height = 8/16/24 cycling by doc_id) so the Y axis of
    the grid — second explode, tile_y arithmetic, ragged bottom tiles —
    is non-vacuous at every SF; the previous height=1 metadata left
    tile_y/px_y/px_h all constant (round-8 vacuity audit)."""
    from erpl_web_spark.operators.multimodal import tile_grid

    d = load(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.ceil(F.length("text") / 8.0).cast("int").alias("width"),
            ((F.lit(1) + F.col("doc_id") % 3) * 8).cast("int").alias("height"),
        ).alias("meta"),
    )
    t = tile_grid(media, tile_w=16, tile_h=16)
    return t.select(
        "media_id", "tile_x", "tile_y",
        F.col("px_x").cast("int"), F.col("px_y").cast("int"),
        F.col("px_w").cast("int"), F.col("px_h").cast("int"),
    )


@register(
    "curation_mixture_upsample",
    oracle="""
    WITH f AS (
      SELECT source, CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2 ELSE 1 END AS r,
             COUNT(*) AS n
      FROM documents GROUP BY source
    )
    SELECT source, CAST(n * r AS BIGINT) AS n_rows,
           CAST(r AS INT) AS n_copies
    FROM f
    """,
)
def curation_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weighting by integer repetition (src0 x3, src1 x2, rest
    x1): the explode is map-only; the summary proves exact output
    multiplicities per stratum."""
    from erpl_web_spark.operators.curation import mixture_upsample

    d = load(spark, sf_dir, "documents")
    up = mixture_upsample(d, "source", {"src0": 3, "src1": 2}, default_repeats=1)
    return up.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.max("copy_idx").cast("int").alias("n_copies"),
    )


@register(
    "cdc_incremental_agg",
    oracle="""
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders GROUP BY o_custkey
    """,
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, proven against the
    full recompute: the pre-1997 snapshot aggregate folded together
    with the 1997+ delta slice (operators.cdc.incremental_agg_update)
    must value-hash-equal a from-scratch GROUP BY over all orders.
    Decimal accumulation keeps slice-sum-of-sums exactly equal to the
    total sum regardless of split point."""
    from erpl_web_spark.operators.cdc import incremental_agg_update

    o = load(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    snap = (
        o.where(F.col("o_orderdate") < cut)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_rows"), F.sum(dec).alias("total_spend"))
    )
    delta_rows = o.where(F.col("o_orderdate") >= cut).select(
        "o_custkey", dec.alias("tp")
    )
    upd = incremental_agg_update(
        snap, delta_rows, ["o_custkey"], {"total_spend": "tp"}
    )
    return upd.select(
        "o_custkey", "n_rows", F.col("total_spend").cast("double").alias("total_spend")
    )


@register(
    "text_vocab_topk",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKS}) AS tok FROM documents
    )
    SELECT tok, COUNT(*) AS freq
    FROM toks GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT 50
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-frequency vocabulary (top-50, ties broken
    lexically) — the seed table for tokenizer training. Explode ->
    map-side-combined count -> TakeOrderedAndProject; the shuffle
    carries (token, partial_count), never documents."""
    from erpl_web_spark.operators.text import tokens_expr
    from erpl_web_spark.suite.relational import top_k

    d = load(spark, sf_dir, "documents", spread=True)
    freq = (
        d.select(F.explode(tokens_expr(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    return top_k(freq, [F.col("freq").desc(), F.col("tok").asc()], 50)


@register(
    "text_hashed_features",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           CAST(CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % 64 AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks GROUP BY doc_id, bucket
    """,
)
def text_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (hashing trick): token counts folded
    into 64 stable md5-derived buckets per document, as (doc_id,
    bucket, cnt) sparse rows — vocabulary-free featurization whose only
    shuffle is the map-side-combined (doc, bucket) count
    (operators.text.hashed_features; probe slice doc_id < 100 keeps the
    checked output bounded)."""
    from erpl_web_spark.operators.text import hashed_features

    d = load(spark, sf_dir, "documents", spread=True).where(F.col("doc_id") < 100)
    return hashed_features(d, "doc_id", "text", num_buckets=64)


@register(
    "text_quality_linear",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ), f AS (
      SELECT doc_id,
             CAST(CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % 64 AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY doc_id, bucket
    ), m AS (
      SELECT doc_id,
             SUM(((CAST(bucket AS BIGINT) * 2654435761) % 997 - 498) * cnt) AS num,
             CAST(SUM(cnt) AS BIGINT) AS n_toks
      FROM f GROUP BY doc_id
    )
    SELECT doc_id, n_toks,
           ROUND(num / (997.0 * n_toks), 12) AS margin,
           ROUND(1.0 / (1.0 + EXP(-ROUND(num / (997.0 * n_toks), 12))), 9) AS p_keep,
           ROUND(1.0 / (1.0 + EXP(-ROUND(num / (997.0 * n_toks), 12))), 9) >= 0.5 AS keep
    FROM m
    """,
)
def text_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier inference over hashed bag-of-words
    features (fasttext/DSIR-style scoring stage), fully JVM-side with
    a weight table computed as an expression of the bucket index.
    Integer-scaled weights make the per-doc weighted sum an exact
    bigint in BOTH engines — value-hash-checkable with no
    float-summation-order caveat (operators.text.linear_quality_score).
    """
    from erpl_web_spark.operators.text import linear_quality_score

    d = load(spark, sf_dir, "documents", spread=True)
    return linear_quality_score(d, "doc_id", "text", num_buckets=64)


@register(
    "text_bloom_membership",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT unnest({_SQL_TOKS}) AS tok FROM documents
    ), pos AS (
      SELECT DISTINCT
             CAST('0x' || substring(md5(CAST(g.i AS VARCHAR) || ':' || tok),
                                    1, 8) AS BIGINT) % 96 AS pos
      FROM toks, (SELECT unnest(range(0, 3)) AS i) g
    ), words AS (
      SELECT pos // 48 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 48 AS INT)) AS mask
      FROM pos GROUP BY pos // 48
    ), probes AS (
      SELECT tok AS probe FROM toks
      UNION ALL
      SELECT 'zz' || CAST(unnest(range(0, 20)) AS VARCHAR)
    ), ppos AS (
      SELECT probe, CAST('0x' || substring(
               md5(CAST(g.i AS VARCHAR) || ':' || probe), 1, 8) AS BIGINT) % 96 AS pos
      FROM probes, (SELECT unnest(range(0, 3)) AS i) g
    ), hits AS (
      SELECT p.probe,
             SUM(CASE WHEN ((COALESCE(w.mask, 0) >> CAST(p.pos % 48 AS INT)) & 1) = 1
                      THEN 1 ELSE 0 END) AS n_hits
      FROM ppos p LEFT JOIN words w ON w.word = p.pos // 48
      GROUP BY p.probe
    )
    SELECT probe, CAST(n_hits AS INT) AS n_hits, n_hits = 3 AS present
    FROM hits
    """,
)
def text_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (text.bloom_filter_words/bloom_probe) —
    the join-pruning sketch, completing the sketch family alongside
    approx-distinct, percentiles and Count-Min. DELIBERATELY
    undersized (m=96 bits, k=3, vocabulary-sized load) so the
    one-sided error contract is visible in the values: every corpus
    token probes present (no false negatives — the contract), the 20
    planted absent probes split between clean misses (n_hits < 3, a
    PROOF of absence) and false positives (n_hits = 3) at the load
    factor's FP rate. md5-derived bit positions make the filter
    bit-identical in DuckDB, so filter, probe fan-out and the error
    spectrum are all value-hash-checked (the countmin pattern)."""
    from erpl_web_spark.operators.text import (
        bloom_filter_words,
        bloom_probe,
        tokens_expr,
    )

    docs = load(spark, sf_dir, "documents", spread=True)
    filt = bloom_filter_words(docs, k=3, m_bits=96)
    vocab = docs.select(
        F.explode(tokens_expr(F.col("text"))).alias("probe")
    ).distinct()
    absents = spark.range(20).select(
        F.concat(F.lit("zz"), F.col("id").cast("string")).alias("probe")
    )
    return bloom_probe(
        vocab.unionByName(absents), filt, k=3, m_bits=96
    )


# shared by text_countmin_topk and pipeline_cms_index_rebuild: the
# rebuild entry reuses the SAME single-pass oracle, so hash equality IS
# the proof that batched apply + rebuild is lossless (the
# curation_contamination_bloom result-invariance posture)
_SQL_CMS_TOPK_ORACLE = f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKS}) AS tok FROM documents
    ), exact AS (
      SELECT tok, exact_n FROM (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n FROM toks
        GROUP BY tok ORDER BY exact_n DESC, tok LIMIT 10
      )
      UNION ALL
      SELECT '__cms_unseen__' AS tok, CAST(0 AS BIGINT) AS exact_n
    ), fan AS (
      SELECT g.d, t.tok FROM toks t,
        (SELECT unnest(range(0, 3)) AS d) g
    ), sk AS (
      SELECT d,
             CAST(CAST('0x' || substring(md5(CAST(d AS VARCHAR) || ':' || tok), 1, 8)
                  AS BIGINT) % 16 AS INT) AS w,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM fan GROUP BY 1, 2
    ), probes AS (
      SELECT e.tok, g.d,
             CAST(CAST('0x' || substring(md5(CAST(g.d AS VARCHAR) || ':' || e.tok), 1, 8)
                  AS BIGINT) % 16 AS INT) AS w
      FROM exact e, (SELECT unnest(range(0, 3)) AS d) g
    ), est AS (
      SELECT p.tok, MIN(COALESCE(sk.cnt, 0)) AS est_n
      FROM probes p LEFT JOIN sk USING (d, w) GROUP BY p.tok
    )
    SELECT e.tok, e.exact_n, est.est_n,
           est.est_n - e.exact_n AS overcount
    FROM exact e JOIN est USING (tok)
    """


@register("text_countmin_topk", oracle=_SQL_CMS_TOPK_ORACLE)
def text_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point estimates vs exact counts for the corpus'
    top-10 tokens (operators.text.countmin_sketch / countmin_lookup):
    the bounded-memory frequency summary — the sketch is depth*width
    rows REGARDLESS of corpus size, partial-aggregable so the Zipf head
    combines map-side. depth=3 × width=16 is deliberately undersized
    for the ~44-word vocabulary so hash collisions are certain and the
    one-sided error contract (est >= exact, bounded overcount) is
    exercised with VARYING overcounts, not vacuously zero; md5-derived
    buckets make the sketch bit-identical in DuckDB, so the error is
    value-hash-checked, not asserted. A sentinel token ABSENT from the
    corpus is probed alongside the top-10 (exact_n=0) so the lookup's
    left-join-coalesce path — unseen tokens must still get a row, and
    an empty counter contributes 0, not be skipped — is exercised
    cross-engine (ADVICE r8 #1 fix)."""
    from erpl_web_spark.operators.text import (
        countmin_lookup,
        countmin_sketch,
        tokens_expr,
    )

    docs = load(spark, sf_dir, "documents", spread=True)
    toks = docs.select(F.explode(tokens_expr("text")).alias("tok"))
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
        .limit(10)
        .unionAll(
            local_rows(spark, [("__cms_unseen__", 0)], "tok string, exact_n bigint")
        )
    )
    sketch = countmin_sketch(docs, depth=3, width=16)
    est = countmin_lookup(sketch, exact.select("tok"), depth=3, width=16)
    return exact.join(est, "tok").select(
        "tok",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


@register("pipeline_cms_index_rebuild", oracle=_SQL_CMS_TOPK_ORACLE)
def pipeline_cms_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_countmin_topk routed through the ON-DISK incremental
    Count-Min index AND a full rebuild (operators.cms_index, VERDICT
    r13 Next #4): documents arrive as three batches split on
    doc_id % 3, each batch's sketch manifest-committed, then
    countmin_index_rebuild collapses the three committed versions into
    ONE at a fresh path, and the top-10+sentinel lookup reads the
    REBUILT index. The oracle is the SAME single-pass SQL the direct
    entry uses — it knows nothing about batches or the rebuild — so
    hash equality proves the additive batch merge AND the rebuild are
    lossless end-to-end under the driver gate (any double-count,
    dropped cell, or torn-swap visibility would flip the hash). The
    entry writes per-invocation temp indexes, collects the 11 summary
    rows, and removes them — suite runs stay stateless."""
    import shutil
    import tempfile

    from erpl_web_spark.operators.cms_index import (
        countmin_index_apply,
        countmin_index_lookup,
        countmin_index_rebuild,
    )
    from erpl_web_spark.operators.text import tokens_expr

    docs = load(spark, sf_dir, "documents", spread=True)
    toks = docs.select(F.explode(tokens_expr("text")).alias("tok"))
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
        .limit(10)
        .unionAll(
            local_rows(spark, [("__cms_unseen__", 0)], "tok string, exact_n bigint")
        )
    )
    src = tempfile.mkdtemp(prefix="cmsidx-suite-")
    dest = tempfile.mkdtemp(prefix="cmsidx-rebuilt-")
    try:
        for bid in (0, 1, 2):
            countmin_index_apply(
                docs.where(F.col("doc_id") % 3 == bid), bid, src,
                depth=3, width=16,
            )
        countmin_index_rebuild(spark, src, dest)
        est = countmin_index_lookup(spark, dest, exact.select("tok"))
        rows = (
            exact.join(est, "tok")
            .select(
                "tok", "exact_n", "est_n",
                (F.col("est_n") - F.col("exact_n")).alias("overcount"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dest, ignore_errors=True)
    return local_rows(spark, rows, "tok string, exact_n bigint, est_n bigint, overcount bigint")


# shared by agg_quantile_sketch and pipeline_qsketch_index_batches (the
# _SQL_CMS_TOPK_ORACLE posture): the index entry reuses the SAME
# single-pass oracle, so hash equality proves the additive batch merge
# and the rebuild are lossless. Pure integer arithmetic end to end —
# bit mapping via length(format('{:b}', v)), integer ceil-division
# ranks — so the sketch is bit-identical cross-engine.
_SQL_QSKETCH_ORACLE = """
    WITH vals AS (
      SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), sb AS (
      SELECT v, greatest(length(format('{:b}', v)) - 1 - 4, 0) AS s
      FROM vals WHERE v >= 0
    ), sk AS (
      SELECT ((v >> s) << s) AS edge, (CAST(1 AS BIGINT) << s) AS width,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM sb GROUP BY 1, 2
    ), cum AS (
      SELECT edge, width, cnt,
             CAST(SUM(cnt) OVER (ORDER BY edge) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n
      FROM sk
    ), q AS (
      SELECT unnest([10, 250, 500, 750, 900, 950, 990, 999]) AS q_permille
    ), hits AS (
      SELECT CAST(q.q_permille AS INT) AS q_permille,
             (CAST(q.q_permille AS BIGINT) * c.n + 999) // 1000 AS rank_r,
             c.edge, c.width, c.cum, c.cnt
      FROM q JOIN cum c
        ON c.cum >= (CAST(q.q_permille AS BIGINT) * c.n + 999) // 1000
    ), pick AS (
      SELECT q_permille, rank_r, MIN(edge) AS est_edge
      FROM hits GROUP BY 1, 2
    )
    SELECT p.q_permille, CAST(p.rank_r AS BIGINT) AS rank_r,
           CAST(p.est_edge AS BIGINT) AS est_edge,
           CAST(h.width AS BIGINT) AS bucket_width,
           CAST(h.cum - h.cnt AS BIGINT) AS n_below,
           CAST(h.cum AS BIGINT) AS n_through
    FROM pick p JOIN hits h
      ON h.q_permille = p.q_permille AND h.edge = p.est_edge
    """

_QSKETCH_QS = [10, 250, 500, 750, 900, 950, 990, 999]


def _lineitem_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l_extendedprice as exact integer cents — floor(x*100) in BOTH
    engines (truncating casts round differently; floor does not)."""
    return load(spark, sf_dir, "lineitem").select(
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("v")
    )


@register("agg_quantile_sketch", oracle=_SQL_QSKETCH_ORACLE)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-bucket quantile sketch (operators.qsketch — the DDSketch
    idea with a power-of-two base, so every step is integer bit
    arithmetic) over lineitem price cents: 8 quantiles from p01 to
    p99.9, each row carrying the structural containment proof
    ``n_below < rank_r <= n_through`` that the true rank-r value lies
    inside the reported bucket, whose relative width is <= 2**-4 =
    6.25%. The sketch is at most ~1 072 (edge, width, cnt) rows
    REGARDLESS of corpus size — one map-side-combined groupBy reduces
    the corpus; the quantile extraction windows over the SKETCH only
    (config-scale, never corpus-scale). All-integer arithmetic makes
    the whole estimate bit-identical in DuckDB, so the error contract
    is value-hash-checked, not asserted — the exact-percentile
    alternative at 100 TB is a corpus sort; this is one scan."""
    from erpl_web_spark.operators.qsketch import (
        logbucket_quantiles,
        logbucket_sketch,
    )

    sk = logbucket_sketch(_lineitem_cents(spark, sf_dir), "v", sub_bits=4)
    return logbucket_quantiles(sk, _QSKETCH_QS)


_SQL_RANGE_BOUNDS_ORACLE = """
    WITH vals AS (
      SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), sb AS (
      SELECT v, greatest(length(format('{:b}', v)) - 1 - 4, 0) AS s
      FROM vals WHERE v >= 0
    ), sk AS (
      SELECT ((v >> s) << s) AS edge, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM sb GROUP BY 1
    ), cum AS (
      SELECT edge, cnt,
             CAST(SUM(cnt) OVER (ORDER BY edge) AS BIGINT) AS cum
      FROM sk
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM sk
    ), bounds AS (
      SELECT k, MIN(edge) AS edge FROM
        (SELECT unnest(range(1, 8)) AS k) ks JOIN cum c ON TRUE, tot
      WHERE c.cum >= (CAST(ks.k AS BIGINT) * tot.n + 7) // 8
      GROUP BY k
    ), binfo AS (
      SELECT b.k, b.edge, c.cum - c.cnt AS n_below
      FROM bounds b JOIN cum c ON c.edge = b.edge
    ), allb AS (
      SELECT CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS edge,
             CAST(0 AS BIGINT) AS n_below
      UNION ALL SELECT k, edge, CAST(n_below AS BIGINT) FROM binfo
      UNION ALL SELECT 8, 0, n FROM tot
    ), parts AS (
      SELECT k AS bucket, edge AS lo_edge,
             LEAD(n_below) OVER (ORDER BY k) - n_below AS n_rows
      FROM allb
    )
    SELECT CAST(bucket AS INT) AS bucket, CAST(lo_edge AS BIGINT) AS lo_edge,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(tot.n // 8 AS BIGINT) AS ideal_rows,
           CAST(n_rows * 1000 // (tot.n // 8) AS BIGINT) AS balance_permille
    FROM parts, tot WHERE bucket < 8
    """


@register("layout_range_bounds", oracle=_SQL_RANGE_BOUNDS_ORACLE)
def layout_range_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range-partition planning from the quantile sketch
    (operators.qsketch.logbucket_equidepth): the 7 boundaries an
    8-way ``repartitionByRange`` of lineitem price cents should use
    (each row's lo_edge; bucket 0 starts at 0, the last is open),
    derived from ONE corpus pass instead of RangePartitioner's
    sampling pass — WITH the balance audit for free: because
    boundaries are bucket edges, each resulting partition's EXACT row
    count (and its permille deviation from ideal) reads off the same
    sketch's cumulative counts. The range-layout sibling of
    layout_zorder_profile: one decides the split points, the other
    the multi-dimension ordering inside them. All integer arithmetic
    over the geometry-bounded sketch; value-hash-checked at every
    SF."""
    from erpl_web_spark.operators.qsketch import (
        logbucket_equidepth,
        logbucket_sketch,
    )

    sk = logbucket_sketch(_lineitem_cents(spark, sf_dir), "v", sub_bits=4)
    return logbucket_equidepth(sk, 8)


@register("pipeline_qsketch_index_batches", oracle=_SQL_QSKETCH_ORACLE)
def pipeline_qsketch_index_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_quantile_sketch routed through the ON-DISK incremental
    quantile index AND a full rebuild (operators.qsketch riding the
    shared additive-index core): lineitem arrives as three batches
    split on l_orderkey % 3, each batch's bucket sketch manifest-
    committed, then qsketch_index_rebuild collapses the three versions
    into ONE at a fresh path and the 8 quantiles are read from the
    REBUILT index. The oracle is the SAME single-pass SQL the direct
    entry uses — it knows nothing about batches or the rebuild — so
    hash equality proves the additive bucket merge AND the rebuild are
    lossless end-to-end under the driver gate (the
    pipeline_cms_index_rebuild result-invariance posture). Temp
    indexes are per-invocation and removed — suite runs stay
    stateless."""
    import shutil
    import tempfile

    from erpl_web_spark.operators.qsketch import (
        qsketch_index_apply,
        qsketch_index_quantiles,
        qsketch_index_rebuild,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("v"),
    )
    src = tempfile.mkdtemp(prefix="qskidx-suite-")
    dest = tempfile.mkdtemp(prefix="qskidx-rebuilt-")
    try:
        for bid in (0, 1, 2):
            qsketch_index_apply(
                li.where(F.col("l_orderkey") % 3 == bid), bid, src,
                "v", sub_bits=4,
            )
        qsketch_index_rebuild(spark, src, dest)
        rows = qsketch_index_quantiles(spark, dest, _QSKETCH_QS).collect()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dest, ignore_errors=True)
    return local_rows(spark,
        rows,
        "q_permille int, rank_r bigint, est_edge bigint, "
        "bucket_width bigint, n_below bigint, n_through bigint",
    )


@register(
    "text_winnow_fingerprints",
    oracle="""
    WITH g AS (
      SELECT doc_id, LENGTH(text) - 4 AS n,
             unnest(range(1, LENGTH(text) - 3)) AS pos, text
      FROM documents WHERE LENGTH(text) >= 5
    ), h AS (
      SELECT doc_id, n, pos,
             CAST('0x' || substring(md5(substring(text, CAST(pos AS INT), 5)), 1, 12)
                  AS BIGINT) AS hh
      FROM g
    ), m AS (
      SELECT doc_id, n, pos,
             MIN(hh) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM h
    ), sel AS (
      SELECT DISTINCT doc_id, fp FROM m WHERE pos <= GREATEST(n - 3, 1)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
           MIN(fp) AS fp_min, MAX(fp) AS fp_max,
           CAST(SUM(fp % 1000003) AS BIGINT) AS fp_sum
    FROM sel GROUP BY doc_id
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS, Schleimer et al. 2003): k=5-char
    gram hashes, w=4 window minima, distinct per doc — the
    local-substring-overlap sketch complementing global MinHash. The
    driver-checked output is the per-doc fingerprint summary: count /
    min / max / sum of (fp mod 1000003) — the mod keeps the pin sum
    far from int64 overflow for arbitrarily large documents (a raw sum
    of 48-bit hashes overflows past ~400 KB of text, which the
    default-conf ANSI session would turn into a runtime error) while
    still pinning the full fingerprint set
    (operators.text.winnow_fingerprints)."""
    from erpl_web_spark.operators.text import winnow_fingerprints

    d = load(spark, sf_dir, "documents", spread=True)
    fps = winnow_fingerprints(d, "doc_id", "text", k=5, w=4)
    return fps.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fp"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
        F.sum(F.col("fp") % 1000003).cast("bigint").alias("fp_sum"),
    )


@register(
    "dedup_winnow_overlap",
    oracle="""
    WITH g AS (
      SELECT doc_id, LENGTH(text) - 4 AS n,
             unnest(range(1, LENGTH(text) - 3)) AS pos, text
      FROM documents WHERE LENGTH(text) >= 5
    ), h AS (
      SELECT doc_id, n, pos,
             CAST('0x' || substring(md5(substring(text, CAST(pos AS INT), 5)), 1, 12)
                  AS BIGINT) AS hh
      FROM g
    ), m AS (
      SELECT doc_id, n, pos,
             MIN(hh) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM h
    ), sel AS (
      SELECT DISTINCT doc_id, fp FROM m WHERE pos <= GREATEST(n - 3, 1)
    ), rare AS (
      SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= 20
    ), keep AS (
      SELECT s.doc_id, s.fp FROM sel s JOIN rare USING (fp)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY id_a, id_b
    HAVING COUNT(*) >= 3
    """,
)
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-overlap candidate pairs from shared winnowing fingerprints
    (>= 3 shared, stop-fingerprint cap df <= 20): catches short shared
    passages that whole-document Jaccard dilutes. Equi-join on the
    fingerprint — LSH-band scale posture, never all-pairs
    (operators.text.winnow_overlap_pairs)."""
    from erpl_web_spark.operators.text import winnow_overlap_pairs

    d = load(spark, sf_dir, "documents", spread=True)
    return winnow_overlap_pairs(
        d, "doc_id", "text", k=5, w=4, min_shared=3, max_df=20
    )


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
            FROM toks WHERE len(t) >= 2)
    ), pc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS bn FROM bg GROUP BY w1, w2
    ), hc AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS hn FROM bg GROUP BY w1
    ), vv AS (
      SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM bg
    ), per_doc AS (
      SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             AVG(log2((p.bn + 0.5) / (h.hn + 0.5 * vv.v))) AS avg_log2p
      FROM bg JOIN pc p USING (w1, w2) JOIN hc h USING (w1) CROSS JOIN vv
      GROUP BY bg.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           ROUND(COALESCE(p.avg_log2p, 0.0), 6) AS avg_log2p_r
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean add-0.5-smoothed bigram log2-probability per document — the
    model-free CCNet-style perplexity-proxy filter; ranks documents
    where the coverage score only thresholds. Single bigram expansion
    (persisted), map-side-combined model counts, broadcast vocab scalar
    (operators.text.with_bigram_logprob)."""
    from erpl_web_spark.operators.text import with_bigram_logprob

    docs = load(spark, sf_dir, "documents", spread=True)
    out = with_bigram_logprob(docs, "doc_id", "text", add_k=0.5)
    return out.select(
        "doc_id", "n_bigrams", F.round("avg_log2p", 6).alias("avg_log2p_r")
    )


@register(
    "text_bigram_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
            FROM toks WHERE len(t) >= 2)
    ), counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS bn FROM bg GROUP BY w1, w2
    ), per_doc AS (
      SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN c.bn >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM bg JOIN counts c USING (w1, w2)
      GROUP BY bg.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           COALESCE(p.n_covered, 0) AS n_covered,
           CAST(COALESCE(p.n_covered, 0) AS DOUBLE)
             / GREATEST(COALESCE(p.n_bigrams, 0), 1) AS bigram_coverage
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order corpus-coverage quality signal: per document, the
    fraction of bigram occurrences whose corpus-wide bigram count
    reaches 3 — word salad and OCR shred score near 0, natural prose
    high. Exact integers until one final double division
    (operators.text.with_bigram_coverage); hot bigrams are the AQE
    skew-join case, same posture as the unigram score."""
    from erpl_web_spark.operators.text import with_bigram_coverage

    d = load(spark, sf_dir, "documents", spread=True)
    return with_bigram_coverage(d, "doc_id", "text", min_count=3)


@register(
    "curation_token_budget",
    oracle=f"""
    WITH keyed AS (
      SELECT source, doc_id,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_toks,
             CAST('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               AS shuffle_key
      FROM documents
    ), cum AS (
      SELECT source, doc_id, n_toks,
             SUM(n_toks) OVER (PARTITION BY source ORDER BY shuffle_key, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens,
             CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 1000 ELSE NULL END
               AS budget
      FROM keyed
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(MAX(cum_tokens) AS BIGINT) AS max_cum
    FROM cum WHERE cum_tokens <= budget
    GROUP BY source
    """,
)
def curation_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling ('take 500 tokens of src0, 1000 of
    src1'): seeded-hash-ordered cumulative token sums per stratum, kept
    while within budget — deterministic across runs and partitionings.
    Summary proves the selection; the window is per stratum (the unit
    of parallelism, as with sequence packing)."""
    from erpl_web_spark.operators.curation import token_budget_sample
    from erpl_web_spark.operators.text import tokens_expr

    d = load(spark, sf_dir, "documents").withColumn(
        "n_toks", F.size(tokens_expr(F.col("text"))).cast("bigint")
    )
    kept = token_budget_sample(
        d, "source", "doc_id", "n_toks", {"src0": 500, "src1": 1000}
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.max("cum_tokens").alias("max_cum"),
    )


_SQL_K10_GRAMS = (
    "list_transform(range(1, greatest(len(__toks) - 9, 0) + 1), "
    "i -> array_to_string(__toks[i:i+9], ' '))"
)


@register(
    "dedup_substring_kgram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS __toks FROM documents
    ), grams AS (
      SELECT doc_id, unnest({_SQL_K10_GRAMS}) AS g FROM toks
    ), inst AS (
      SELECT doc_id, g, COUNT(*) AS cnt FROM grams GROUP BY doc_id, g
    ), dup AS (
      SELECT g FROM inst GROUP BY g HAVING COUNT(*) >= 2
    ), tot AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams FROM inst GROUP BY doc_id
    ), fl AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_dup_grams
      FROM inst WHERE g IN (SELECT g FROM dup) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(tot.n_grams, 0) AS n_grams,
           COALESCE(fl.n_dup_grams, 0) AS n_dup_grams,
           CASE WHEN COALESCE(tot.n_grams, 0) > 0
                THEN CAST(COALESCE(fl.n_dup_grams, 0) AS DOUBLE) / tot.n_grams
                ELSE 0.0 END AS dup_frac
    FROM documents d
    LEFT JOIN tot ON d.doc_id = tot.doc_id
    LEFT JOIN fl ON d.doc_id = fl.doc_id
    """,
)
def dedup_substring_kgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication report: per document, how many 10-token
    spans occur verbatim in at least one OTHER document (the
    exact-substring-dedup signal — boilerplate/quotes/licence headers —
    that whole-document Jaccard misses). Distributed as position-hash
    grouping: shuffles (id, bigint) rows only, cross-doc span set is
    broadcast back. Reference analogue: none (training-data extension);
    cf. dedup family provenance in operators/dedup.py."""
    from erpl_web_spark.operators.dedup import substring_dup_report

    docs = load(spark, sf_dir, "documents", spread=True)
    return substring_dup_report(docs, "doc_id", "text", k=10, min_docs=2)


@register(
    "dedup_containment",
    oracle=f"""
    WITH ct_corpus AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT d.doc_id + (SELECT MAX(doc_id) + 1 FROM documents), d.lang,
             substr(d.text, 1, 200) || ' zq' || CAST(d.doc_id AS VARCHAR)
               || ' unique appended filler words trailing here'
      FROM documents d WHERE d.doc_id < 5
    ), toks AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS __toks FROM ct_corpus
    ), sh AS (
      SELECT doc_id, lang, {_SQL_SHINGLES} AS sh FROM toks
    )
    SELECT id_a, id_b, containment, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / least(len(a.sh), len(b.sh)) AS containment,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE least(len(a.sh), len(b.sh)) > 0
    ) WHERE containment >= 0.6
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (|A∩B| / min(|A|,|B|)): catches a
    short document quoted verbatim inside a longer one, which Jaccard
    scores arbitrarily low. Blocked by language — same confined-quadratic
    posture as the exact Jaccard verifier. Each of the first 5 documents
    gets a planted PARTIAL quote (its 200-char prefix plus a unique
    tail, re-keyed past max id) so containment values strictly between
    the 0.6 threshold and 1.0 appear at every SF — the raw corpus only
    yields containment = 1.0 pairs, leaving the asymmetric ratio itself
    vacuous (round-8 vacuity audit)."""
    from erpl_web_spark.operators.dedup import containment_pairs

    docs = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "lang", "text"
    )
    base = docs.agg((F.max("doc_id") + F.lit(1)).alias("_b"))
    planted = (
        docs.where(F.col("doc_id") < 5)
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("doc_id") + F.col("_b")).alias("doc_id"),
            "lang",
            F.concat(
                F.substring(F.col("text"), 1, 200),
                F.lit(" zq"),
                F.col("doc_id").cast("string"),
                F.lit(" unique appended filler words trailing here"),
            ).alias("text"),
        )
    )
    return containment_pairs(
        docs.unionByName(planted), "doc_id", "text",
        block_cols=["lang"], shingle_k=3, threshold=0.6,
    )


@register(
    "curation_contamination_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES.replace("__toks", "toks")} AS sh
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    ),
    be AS (SELECT doc_id AS bench_id, len(sh) AS n_b, unnest(sh) AS g
           FROM sh WHERE doc_id % 20 = 0),
    ce AS (SELECT doc_id, len(sh) AS n_a, unnest(sh) AS g
           FROM sh WHERE doc_id % 20 <> 0),
    hit AS (SELECT doc_id, bench_id,
                   any_value(n_a) AS n_a, any_value(n_b) AS n_b,
                   COUNT(*) AS inter
            FROM ce JOIN be USING (g) GROUP BY doc_id, bench_id)
    SELECT doc_id, bench_id, inter,
           CAST(inter AS DOUBLE) / (n_a + n_b - inter) AS jaccard,
           CAST(inter AS DOUBLE) / n_b AS containment_bench
    FROM hit
    WHERE CAST(inter AS DOUBLE) / n_b >= 0.5
    """,
)
def curation_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise fuzzy decontamination: attribute WHICH benchmark item
    (every 20th doc, standing in for an eval suite) leaked into which
    training document, via an exact inverted shingle-index join — no LSH
    recall loss, one broadcast + one (doc,bench)-key shuffle. The pooled
    variant is curation_contamination; this is the per-item attribution
    real eval-leak audits need."""
    from erpl_web_spark.operators.curation import pairwise_contamination

    d = load(spark, sf_dir, "documents", spread=True)
    bench = d.where(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    train = d.where(F.col("doc_id") % 20 != 0)
    return pairwise_contamination(
        train, bench, "doc_id", "text", "bench_id", shingle_k=3, threshold=0.5
    )


_SQL_EMBED_COMPONENTS = (
    "WITH RECURSIVE "
    + _SQL_IVF_ASSIGNED.lstrip().removeprefix("WITH ")
    + """
    , epairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a JOIN assigned b USING (cell)
      WHERE a.vec_id < b.vec_id
        AND list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35
    ), cc_edges AS (
      SELECT id_a AS u, id_b AS v FROM epairs
      UNION
      SELECT id_b AS u, id_a AS v FROM epairs
    ), reach(id, comp) AS (
      SELECT u, u FROM cc_edges
      UNION
      SELECT e.v, r.comp FROM reach r JOIN cc_edges e ON e.u = r.id
    ), components AS (
      SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    )
"""
)


@register(
    "embedding_cluster_semantic",
    oracle=_SQL_EMBED_COMPONENTS
    + """
    SELECT component, COUNT(*) AS n_members,
           MIN(id) AS member_min, MAX(id) AS member_max
    FROM components GROUP BY component
    """,
)
def embedding_cluster_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate clusters: connected components over the
    IVF-blocked embedding-cosine edge set (dedup_embedding), rolled up to
    per-cluster summaries — the semantic analogue of the lexical
    dedup_cluster_summary, i.e. SemDeDup-style grouping with the
    pointer-jumping components operator doing the pairs->clusters step."""
    from erpl_web_spark.operators.graph import component_summary, connected_components

    emb = load(spark, sf_dir, "embeddings", spread=True)
    pairs = embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.35, stride=50
    )
    return component_summary(connected_components(pairs, "left_id", "right_id"))


@register(
    "dedup_substring_scrub",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    gp AS (
      SELECT doc_id, s.pos AS pos, s.gr AS gr FROM (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 9, 0) + 1),
               i -> struct_pack(pos := i, gr := array_to_string(t[i:i+9], ' ')))) AS s
        FROM toks)
    ),
    dup AS (
      SELECT gr FROM (SELECT DISTINCT gr, doc_id FROM gp)
      GROUP BY gr HAVING COUNT(*) >= 2
    ),
    starts AS (
      SELECT doc_id, list_sort(list(DISTINCT pos)) AS ss
      FROM gp WHERE gr IN (SELECT gr FROM dup) GROUP BY doc_id
    ),
    j AS (
      SELECT t.doc_id, t.t, COALESCE(s.ss, []) AS ss
      FROM toks t LEFT JOIN starts s ON t.doc_id = s.doc_id
    ),
    kept AS (
      SELECT doc_id, t,
             list_transform(
               list_filter(range(1, len(t) + 1),
                           i -> len(list_filter(ss, s -> s <= i AND i < s + 10)) = 0),
               i -> t[i]) AS kt
      FROM j
    )
    SELECT doc_id, COALESCE(array_to_string(kt, ' '), '') AS clean_text,
           CAST(len(t) AS INT) AS n_tokens,
           CAST(len(t) - len(kt) AS INT) AS n_removed
    FROM kept
    """,
)
def dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span removal: rebuild each document (in normalized
    token space) with every cross-document 10-token span scrubbed — the
    actionable form of dedup_substring_kgram (training-data substring
    dedup removes the repeated span, keeps the unique remainder).
    Interval-union of flagged gram starts via array EXISTS, all JVM-side."""
    from erpl_web_spark.operators.dedup import remove_duplicated_spans

    docs = load(spark, sf_dir, "documents", spread=True)
    return remove_duplicated_spans(docs, "doc_id", "text", k=10, min_docs=2)


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    nn AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1),
    c AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(floor((greatest(n - 16, 1) - 1) / 48)
                               AS BIGINT) + 1)) AS cid
      FROM nn
    )
    SELECT doc_id, CAST(cid AS INT) AS chunk_id,
           CAST(cid * 48 AS INT) AS start_tok,
           CAST(len(t[cid * 48 + 1 : cid * 48 + 64]) AS INT) AS n_chunk_tokens,
           array_to_string(t[cid * 48 + 1 : cid * 48 + 64], ' ') AS chunk_text
    FROM c
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (64-token chunks, 16-token overlap) — the
    splitting complement to pack_documents for RAG/context-window prep.
    Pure map-side array expressions, one explode, zero shuffle
    (operators.text.chunk_documents)."""
    from erpl_web_spark.operators.text import chunk_documents

    docs = load(spark, sf_dir, "documents", spread=True)
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=16)


@register(
    "embedding_matryoshka_audit",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             list_dot_product(p.emb, c.emb)
               / (sqrt(list_dot_product(p.emb, p.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))) AS cos_full,
             list_dot_product(p.emb[1:16], c.emb[1:16])
               / (sqrt(list_dot_product(p.emb[1:16], p.emb[1:16]))
                  * sqrt(list_dot_product(c.emb[1:16], c.emb[1:16]))) AS cos_trunc
      FROM v p JOIN v c ON p.vec_id < 50 AND p.vec_id <> c.vec_id
    ), r AS (
      SELECT probe_id, neighbor_id, cos_full,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cos_trunc DESC, neighbor_id) AS rt,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cos_full DESC, neighbor_id) AS rf
      FROM scored
    )
    SELECT probe_id,
           MAX(CASE WHEN rt = 1 THEN neighbor_id END) AS trunc_top1,
           MAX(CASE WHEN rf = 1 THEN neighbor_id END) AS full_top1,
           CAST(MAX(CASE WHEN rt = 1 THEN neighbor_id END)
                = MAX(CASE WHEN rf = 1 THEN neighbor_id END) AS INT) AS agree,
           ROUND(MAX(CASE WHEN rt = 1 THEN cos_full END), 6) AS pick_cos_r,
           ROUND(MAX(CASE WHEN rf = 1 THEN cos_full END), 6) AS best_cos_r
    FROM r WHERE rt = 1 OR rf = 1
    GROUP BY probe_id
    """,
)
def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-truncation retrieval audit (first 16 of 64
    dims): per 50-probe set, the truncated-space top-1 vs the
    full-precision top-1, with the full cosines of both picks bounding
    the truncation regret. One corpus scan computes both cosines
    (operators.similarity.matryoshka_audit)."""
    from erpl_web_spark.operators.similarity import matryoshka_audit

    emb = load(spark, sf_dir, "embeddings", spread=True)
    probes = emb.where(F.col("vec_id") < 50)
    out = matryoshka_audit(emb, probes, "vec_id", "embedding", dims=16)
    return out.select(
        "probe_id", "trunc_top1", "full_top1", "agree",
        F.round("full_cos_of_trunc_pick", 6).alias("pick_cos_r"),
        F.round("full_cos_best", 6).alias("best_cos_r"),
    )


def _sql_strip_html(expr: str) -> str:
    """DuckDB rendering of operators.text.strip_html_expr — the same
    regex chain (RE2 evaluates these patterns identically to Java's
    engine: no backreferences, no lookaround), global flag explicit."""
    steps = [
        (r"(?is)<script[^>]*>.*?</script>", " "),
        (r"(?is)<style[^>]*>.*?</style>", " "),
        (r"(?s)<!--.*?-->", " "),
        (r"<[a-zA-Z/!?][^>]*>", " "),
        (r"&lt;", "<"),
        (r"&gt;", ">"),
        (r"&quot;", '"'),
        (r"&#39;", "''"),
        (r"&nbsp;", " "),
        (r"&amp;", "&"),
        (r"\s+", " "),
    ]
    out = expr
    for pat, repl in steps:
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return f"trim({out})"


_HTML_PRE = (
    '<?xml version="1.0"?><html><head><style>p{color:red}</style></head>'
    '<body><!-- header --><p class="x">'
)
_HTML_POST = '</p><script>var a = 1 &amp;&amp; 2;</script>&nbsp;&amp; tail</body></html>'


@register(
    "text_html_strip",
    oracle=f"""
    SELECT doc_id,
           {_sql_strip_html("'" + _HTML_PRE + "' || text || '" + _HTML_POST + "'")}
             AS clean_text
    FROM documents
    """,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction parity: every document wrapped in a
    deterministic HTML shell (style + comment + tags + script +
    entities) must strip back to its whitespace-collapsed text plus
    the decoded '& tail' suffix, identically in Spark (Java regex) and
    DuckDB (RE2) — the web-crawl ingest cleaner as a pure column
    expression (operators.text.strip_html_expr)."""
    from erpl_web_spark.operators.text import strip_html_expr

    docs = load(spark, sf_dir, "documents", spread=True)
    html = F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST))
    return docs.select("doc_id", strip_html_expr(html).alias("clean_text"))


@register(
    "multimodal_dhash_values",
    oracle="""
    WITH d AS (
      SELECT doc_id, sha256(text || '0') AS d0, sha256(text || '1') AS d1,
             sha256(text || '2') AS d2
      FROM documents
    ), cells AS (
      SELECT doc_id, list_transform(range(0, 72), i ->
        CAST('0x' || substr(CASE WHEN i < 32 THEN d0
                                 WHEN i < 64 THEN d1 ELSE d2 END,
                            CAST((i % 32) * 2 + 1 AS INT), 2) AS INT)) AS g
      FROM d
    ), bits AS (
      SELECT doc_id, list_transform(range(0, 64), k ->
        CASE WHEN g[CAST((k // 8) * 9 + (k % 8) + 2 AS INT)]
                > g[CAST((k // 8) * 9 + (k % 8) + 1 AS INT)]
             THEN 1 ELSE 0 END) AS b
      FROM cells
    )
    SELECT doc_id AS media_id,
      CAST(list_sum(list_transform(range(0, 32),
           k -> b[CAST(k + 1 AS INT)] * (CAST(1 AS BIGINT) << CAST(k AS INT))))
           AS BIGINT) AS dhash_hi,
      CAST(list_sum(list_transform(range(0, 32),
           k -> b[CAST(k + 33 AS INT)] * (CAST(1 AS BIGINT) << CAST(k AS INT))))
           AS BIGINT) AS dhash_lo
    FROM bits
    """,
)
def multimodal_dhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-media 64-bit dHash halves, value-hash-checked for EVERY
    document (the pairs entry only exercises hashes that collide into
    shared bands): the mapInPandas stub kernel vs DuckDB's sha256-hex
    rendering of the same grid, bit packing and all
    (operators.multimodal.dhash_media)."""
    from erpl_web_spark.operators.multimodal import dhash_media, documents_as_media

    media = documents_as_media(load(spark, sf_dir, "documents", spread=True))
    return dhash_media(media)


@register(
    "multimodal_dhash_pairs",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text
      FROM documents WHERE doc_id < 20
    ), d AS (
      SELECT doc_id, sha256(text || '0') AS d0, sha256(text || '1') AS d1,
             sha256(text || '2') AS d2
      FROM corpus
    ), cells AS (
      SELECT doc_id, list_transform(range(0, 72), i ->
        CAST('0x' || substr(CASE WHEN i < 32 THEN d0
                                 WHEN i < 64 THEN d1 ELSE d2 END,
                            CAST((i % 32) * 2 + 1 AS INT), 2) AS INT)) AS g
      FROM d
    ), bits AS (
      SELECT doc_id, list_transform(range(0, 64), k ->
        CASE WHEN g[CAST((k // 8) * 9 + (k % 8) + 2 AS INT)]
                > g[CAST((k // 8) * 9 + (k % 8) + 1 AS INT)]
             THEN 1 ELSE 0 END) AS b
      FROM cells
    ), h AS (
      SELECT doc_id AS media_id,
        CAST(list_sum(list_transform(range(0, 32),
             k -> b[CAST(k + 1 AS INT)] * (CAST(1 AS BIGINT) << CAST(k AS INT))))
             AS BIGINT) AS dhash_hi,
        CAST(list_sum(list_transform(range(0, 32),
             k -> b[CAST(k + 33 AS INT)] * (CAST(1 AS BIGINT) << CAST(k AS INT))))
             AS BIGINT) AS dhash_lo
      FROM bits
    ), bands AS (
      SELECT media_id, dhash_hi, dhash_lo, t.b,
             CASE WHEN t.b < 2 THEN (dhash_hi >> CAST(16 * (t.b % 2) AS INT)) & 65535
                  ELSE (dhash_lo >> CAST(16 * (t.b % 2) AS INT)) & 65535
             END AS val
      FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t
    )
    SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
           CAST(bit_count(xor(x.dhash_hi, y.dhash_hi))
                + bit_count(xor(x.dhash_lo, y.dhash_lo)) AS INT) AS hamming
    FROM bands x JOIN bands y
      ON x.b = y.b AND x.val = y.val AND x.media_id < y.media_id
    WHERE bit_count(xor(x.dhash_hi, y.dhash_hi))
          + bit_count(xor(x.dhash_lo, y.dhash_lo)) <= 3
    """,
)
def multimodal_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate media pairs: 64-bit dHash per
    payload (Arrow mapInPandas; deterministic sha256 grid stub — the
    real Pillow grayscale kernel swaps in where installed), then
    16-bit-band pigeonhole candidates + exact bit_count(xor) hamming
    verify — the image twin of SimHash text dedup, never all-pairs
    (operators.multimodal.dhash_media / dhash_dup_pairs). The corpus is
    augmented with re-keyed copies of the first 20 documents so the
    pairing path produces rows (and is value-hash-checked) at EVERY
    scale factor — the raw corpus has no duplicate payloads at the
    small SFs, which would make the oracle compare empty-to-empty.
    The re-key offset is max(doc_id)+1 (broadcast 1-row scalar, not a
    fixed constant) so planted ids are collision-free at every scale
    factor — a fixed 10M offset would collide with real ids once the
    corpus passes 10M documents."""
    from erpl_web_spark.operators.multimodal import (
        dhash_dup_pairs,
        dhash_media,
        documents_as_media,
    )

    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    base = docs.agg((F.max("doc_id") + F.lit(1)).alias("_base"))
    planted = (
        docs.where(F.col("doc_id") < 20)
        .crossJoin(F.broadcast(base))
        .select((F.col("doc_id") + F.col("_base")).alias("doc_id"), "text")
    )
    media = documents_as_media(docs.unionByName(planted))
    return dhash_dup_pairs(dhash_media(media), max_distance=3)


@register(
    "multimodal_dhash_pairs_d7",
    oracle="""
    WITH d AS (
      SELECT doc_id, sha256(text || '0') AS d0, sha256(text || '1') AS d1,
             sha256(text || '2') AS d2
      FROM documents
    ), cells AS (
      SELECT doc_id, list_transform(range(0, 72), i ->
        CAST('0x' || substr(CASE WHEN i < 32 THEN d0
                                 WHEN i < 64 THEN d1 ELSE d2 END,
                            CAST((i % 32) * 2 + 1 AS INT), 2) AS INT)) AS g
      FROM d
    ), bits AS (
      SELECT doc_id, list_transform(range(0, 64), k ->
        CASE WHEN g[CAST((k // 8) * 9 + (k % 8) + 2 AS INT)]
                > g[CAST((k // 8) * 9 + (k % 8) + 1 AS INT)]
             THEN 1 ELSE 0 END) AS b
      FROM cells
    ), h AS (
      SELECT doc_id AS media_id,
        CAST(list_sum(list_transform(range(0, 32),
             k -> b[CAST(k + 1 AS INT)] * (CAST(1 AS BIGINT) << CAST(k AS INT))))
             AS BIGINT) AS dhash_hi,
        CAST(list_sum(list_transform(range(0, 32),
             k -> b[CAST(k + 33 AS INT)] * (CAST(1 AS BIGINT) << CAST(k AS INT))))
             AS BIGINT) AS dhash_lo
      FROM bits
    ), var AS (
      SELECT media_id, dhash_hi, dhash_lo FROM h
      UNION ALL
      SELECT media_id + m.i * (SELECT MAX(doc_id) + 1 FROM documents),
             xor(dhash_hi, CASE m.i WHEN 1 THEN 65539 ELSE 196611 END),
             xor(dhash_lo, CASE m.i WHEN 3 THEN 65539 ELSE 65537 END)
      FROM h CROSS JOIN (SELECT unnest(range(1, 4)) AS i) m
      WHERE media_id < 20
    ), bands AS (
      SELECT media_id, dhash_hi, dhash_lo, t.b,
             CASE WHEN t.b < 2 THEN (dhash_hi >> CAST(16 * (t.b % 2) AS INT)) & 65535
                  ELSE (dhash_lo >> CAST(16 * (t.b % 2) AS INT)) & 65535
             END AS val
      FROM var CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t
    ), probes AS (
      SELECT media_id, dhash_hi, dhash_lo, b,
             unnest(list_prepend(val, list_transform(range(0, 16),
                    k -> xor(val, CAST(1 AS BIGINT) << CAST(k AS INT))))) AS val
      FROM bands
    )
    SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
           CAST(bit_count(xor(x.dhash_hi, y.dhash_hi))
                + bit_count(xor(x.dhash_lo, y.dhash_lo)) AS INT) AS hamming
    FROM probes x JOIN bands y
      ON x.b = y.b AND x.val = y.val AND x.media_id < y.media_id
    WHERE bit_count(xor(x.dhash_hi, y.dhash_hi))
          + bit_count(xor(x.dhash_lo, y.dhash_lo)) <= 7
    """,
)
def multimodal_dhash_pairs_d7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moderately-edited near-duplicate media at hamming distance up to
    7 — past the plain 4x16-band pigeonhole (<= 3), via 1-bit
    multi-probe on the same bands (any <= 7-bit pair has a band
    differing in at most 1 bit, so probing each band key plus its 16
    one-bit flips recovers it; 17x skinny probe rows, key selectivity
    intact). Planting: each of the first 20 documents' HASHES gets
    three re-keyed variants at exactly 5, 6 and 7 flipped bits, spread
    so every band differs (invisible to the exact band join — this
    entry is vacuous without multi-probe); variant ids offset by
    i * (max id + 1), collision-free at any scale factor
    (operators.multimodal.dhash_dup_pairs)."""
    from erpl_web_spark.operators.multimodal import (
        dhash_dup_pairs,
        dhash_media,
        documents_as_media,
    )

    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    hashes = dhash_media(documents_as_media(docs))
    base = hashes.agg((F.max("media_id") + F.lit(1)).alias("_base"))
    orig = hashes.where(F.col("media_id") < 20).crossJoin(F.broadcast(base))
    masks = [(1, 0x10003, 0x10001), (2, 0x30003, 0x10001), (3, 0x30003, 0x10003)]
    variants = [
        orig.select(
            (F.col("media_id") + F.lit(i) * F.col("_base")).alias("media_id"),
            F.col("dhash_hi").bitwiseXOR(F.lit(mh)).alias("dhash_hi"),
            F.col("dhash_lo").bitwiseXOR(F.lit(ml)).alias("dhash_lo"),
        )
        for i, mh, ml in masks
    ]
    planted = hashes
    for v in variants:
        planted = planted.unionByName(v)
    return dhash_dup_pairs(planted, max_distance=7)


@register(
    "similarity_knn_label_eval",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, c.label AS nlabel,
             list_dot_product(p.emb, c.emb)
               / (sqrt(list_dot_product(p.emb, p.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))) AS cosine
      FROM v p JOIN v c ON p.vec_id < 100 AND p.vec_id <> c.vec_id
    ), topk AS (
      SELECT probe_id, nlabel FROM (
        SELECT probe_id, nlabel,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= 5
    ), votes AS (
      SELECT probe_id, nlabel, COUNT(*) AS votes
      FROM topk GROUP BY probe_id, nlabel
    ), pick AS (
      SELECT probe_id, pred_label, votes FROM (
        SELECT probe_id, nlabel AS pred_label, votes,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY votes DESC, nlabel ASC) AS rn
        FROM votes) WHERE rn = 1
    )
    SELECT t.vec_id AS probe_id, t.label AS true_label, p.pred_label,
           CAST(p.votes AS INT) AS n_votes,
           CAST(t.label = p.pred_label AS INT) AS correct
    FROM v t JOIN pick p ON p.probe_id = t.vec_id
    """,
)
def similarity_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-label classification for a 100-probe set — the
    intrinsic embedding-quality eval (cosine neighborhoods should
    recover labels). Neighbors via the BLAS shortlist path; the vote
    and its argmax are partial-aggregable, no window
    (operators.similarity.knn_label_eval)."""
    from erpl_web_spark.operators.similarity import knn_label_eval

    emb = load(spark, sf_dir, "embeddings", spread=True)
    probes = emb.where(F.col("vec_id") < 100)
    return knn_label_eval(emb, probes, "vec_id", "embedding", "label", k=5)


@register(
    "dedup_winnow_scrub",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, LENGTH(text) - 4 AS n,
             unnest(range(1, LENGTH(text) - 3)) AS pos, text
      FROM documents WHERE LENGTH(text) >= 5
    ), h AS (
      SELECT doc_id, n, pos,
             CAST('0x' || substring(md5(substring(text, CAST(pos AS INT), 5)), 1, 12)
                  AS BIGINT) AS hh
      FROM g
    ), m AS (
      SELECT doc_id, n, pos,
             MIN(hh) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM h
    ), sel AS (
      SELECT DISTINCT doc_id, fp FROM m WHERE pos <= GREATEST(n - 3, 1)
    ), rare AS (
      SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= 20
    ), keep AS (
      SELECT s.doc_id, s.fp FROM sel s JOIN rare USING (fp)
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b HAVING COUNT(*) >= 3
    ), involved AS (
      SELECT DISTINCT id_a AS doc_id FROM pairs
      UNION SELECT DISTINCT id_b AS doc_id FROM pairs
    ),
    toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    subtoks AS (
      SELECT * FROM toks WHERE doc_id IN (SELECT doc_id FROM involved)
    ),
    gp AS (
      SELECT doc_id, s.pos AS pos, s.gr AS gr FROM (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 9, 0) + 1),
               i -> struct_pack(pos := i, gr := array_to_string(t[i:i+9], ' ')))) AS s
        FROM subtoks)
    ),
    dup AS (
      SELECT gr FROM (SELECT DISTINCT gr, doc_id FROM gp)
      GROUP BY gr HAVING COUNT(*) >= 2
    ),
    starts AS (
      SELECT doc_id, list_sort(list(DISTINCT pos)) AS ss
      FROM gp WHERE gr IN (SELECT gr FROM dup) GROUP BY doc_id
    ),
    j AS (
      SELECT t.doc_id, t.t, COALESCE(s.ss, []) AS ss
      FROM subtoks t LEFT JOIN starts s ON t.doc_id = s.doc_id
    ),
    kept AS (
      SELECT doc_id, t,
             list_transform(
               list_filter(range(1, len(t) + 1),
                           i -> len(list_filter(ss, s -> s <= i AND i < s + 10)) = 0),
               i -> t[i]) AS kt
      FROM j
    )
    SELECT doc_id, COALESCE(array_to_string(kt, ' '), '') AS clean_text,
           CAST(len(t) AS INT) AS n_tokens,
           CAST(len(t) - len(kt) AS INT) AS n_removed
    FROM kept
    UNION ALL
    SELECT doc_id, COALESCE(array_to_string(t, ' '), '') AS clean_text,
           CAST(len(t) AS INT) AS n_tokens, CAST(0 AS INT) AS n_removed
    FROM toks WHERE doc_id NOT IN (SELECT doc_id FROM involved)
    """,
)
def dedup_winnow_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow-gated span scrubbing (the MOSS workflow composed end to
    end): winnowing overlap pairs (k=5, w=4, >=3 shared, df <= 20
    stop-fingerprint cap) select the documents with detected local
    overlap, and only THOSE pass through the 10-token cross-document
    span scrubber; the rest pass through normalized with n_removed = 0.
    At scale the O(total tokens) gram position table materializes over
    the flagged subset only (operators.dedup.winnow_targeted_scrub)."""
    from erpl_web_spark.operators.dedup import winnow_targeted_scrub

    docs = load(spark, sf_dir, "documents", spread=True)
    return winnow_targeted_scrub(
        docs, "doc_id", "text",
        char_k=5, w=4, min_shared=3, max_df=20, token_k=10, min_docs=2,
    )


_KB_BASE = ("orange violet maroon silver copper golden walnut cedar maple "
            "aspen birch hazel juniper laurel magnolia poplar rowan spruce "
            "willow alder")
_KB_TAILS = (
    "1111111111 2222222222 3333333333 4444444444 5555555555 6666666666 7777777777",
    "8888888888 9999999999 1010101010 2020202020 3030303030 4040404040 5050505050",
)


def _sql_qscore(src: str = "documents") -> str:
    return f"""
    qs AS (
      SELECT doc_id,
             CAST(((toks >= 5 AND toks <= 100000)::INT
                   + (avg_len >= 2.0 AND avg_len <= 12.0)::INT
                   + (punct_ratio <= 0.2)::INT
                   + (digit_ratio <= 0.3)::INT) AS DOUBLE) / 4.0 AS quality_score
      FROM (
        SELECT doc_id,
               len({_SQL_TOKS}) AS toks,
               CAST(list_sum(list_transform({_SQL_TOKS}, t -> LENGTH(t))) AS DOUBLE)
                 / GREATEST(len({_SQL_TOKS}), 1) AS avg_len,
               CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE)
                 / GREATEST(LENGTH(text), 1) AS punct_ratio,
               CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                 / GREATEST(LENGTH(text), 1) AS digit_ratio
        FROM {src}
      )
    )
"""


_SQL_QSCORE = _sql_qscore()


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE kb_corpus AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT (SELECT MAX(doc_id) + 1 FROM documents) + v.off, 'zz', {_KB_BASE!r} || ' ' || v.t
      FROM (VALUES (0, {_KB_TAILS[0]!r}), (1, {_KB_TAILS[1]!r})) v(off, t)
    ), {_sql_jaccard_edges("kb_corpus")}, {_sql_qscore("kb_corpus")}
    SELECT component, keep_id, best_score FROM (
      SELECT c.component, c.id AS keep_id, qs.quality_score AS best_score,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY qs.quality_score DESC, c.id ASC) AS rn
      FROM components c JOIN qs ON qs.doc_id = c.id
    ) WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster representatives: for each near-dup cluster,
    keep the HIGHEST-quality member (ties to the smaller id) instead of
    the arbitrary min-id — what production curation actually does. One
    join + a WindowGroupLimit-pruned rank over the component key.
    A planted pair of digit-flooded near-dups (own 'zz' lang block,
    Jaccard 0.56, quality 0.75 each) gives one cluster whose winner
    scores BELOW 1.0 — on the raw corpus every cluster member is
    perfect quality, leaving the quality comparison itself vacuous
    (best_score was constant; round-8 vacuity audit)."""
    from erpl_web_spark.operators.graph import component_best, connected_components

    docs = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "lang", "text"
    )
    base = docs.agg((F.max("doc_id") + F.lit(1)).alias("_b"))
    bad = local_rows(spark,
        [(i, f"{_KB_BASE} {t}") for i, t in enumerate(_KB_TAILS)],
        "off long, t string",
    )
    planted = bad.crossJoin(F.broadcast(base)).select(
        (F.col("off") + F.col("_b")).alias("doc_id"),
        F.lit("zz").alias("lang"),
        F.col("t").alias("text"),
    )
    # materialize the planted union BEFORE the pairwise verifier: a
    # union-with-crossJoin input has no stats, so Catalyst plans the
    # block join as an INTERPRETED SortMergeJoin (the per-pair Jaccard
    # lives in the join condition) — measured 10-20x slower per pair
    # than the codegen BroadcastHashJoin the same data gets as a
    # cached/scanned input; at sf1 that is hours vs minutes. The
    # lineage barrier makes the join children simple scans; blocks are
    # reclaimed by the ContextCleaner after the suite run drops the
    # frame (ngram_jaccard_pairs docstring, round-9 sf1 measurement).
    docs = docs.unionByName(planted).localCheckpoint(eager=True)
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["lang"], shingle_k=3, threshold=0.3
    )
    comp = connected_components(pairs, "id_a", "id_b")
    scored = with_quality_score(docs).select("doc_id", "quality_score")
    return component_best(comp, scored, "doc_id", "quality_score")


# --------------------------------------------------------------------------
# Round-4 session-5 additions: fuzzy entity matching, snapshot diff,
# leakage-safe splitting, semantic decontamination.
# --------------------------------------------------------------------------

# DuckDB rendering of matching.last_token_block + the distinct-name
# dictionary: resolution always runs on DISTINCT values, never facts.
_SQL_NAME_BLOCKS = """
    names AS (
      SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL
    ), blocked AS (
      SELECT name, lower(l[len(l)]) AS blk
      FROM (SELECT name, string_split_regex(trim(name), '\\s+') AS l FROM names)
    ), fuzzy_pairs AS (
      SELECT a.name AS name_a, b.name AS name_b,
             CAST(levenshtein(a.name, b.name) AS INT) AS distance
      FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 4
    )
"""


@register(
    "match_fuzzy_parts",
    oracle=f"""
    WITH {_SQL_NAME_BLOCKS}
    SELECT name_a, name_b, distance FROM fuzzy_pairs
    """,
)
def match_fuzzy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance self-join over the part-name dictionary
    (operators.matching): candidate pairs share the last-token blocking
    key, levenshtein <= 4 verifies. The structured-identity complement
    of MinHash text dedup; the quadratic verify is confined per block
    and runs on the DISTINCT dictionary, never the fact table."""
    from erpl_web_spark.operators.matching import fuzzy_match_pairs

    return fuzzy_match_pairs(
        load(spark, sf_dir, "part"), "p_name", max_distance=4
    )


@register(
    "match_resolve_parts",
    oracle=f"""
    WITH RECURSIVE {_SQL_NAME_BLOCKS}, edges AS (
      SELECT name_a AS u, name_b AS v FROM fuzzy_pairs
      UNION
      SELECT name_b AS u, name_a AS v FROM fuzzy_pairs
    ), reach(id, comp) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id
    ), canon AS (
      SELECT id, MIN(comp) AS canonical FROM reach GROUP BY id
    )
    SELECT COALESCE(c.canonical, p.p_name) AS canonical_name,
           COUNT(*) AS n_parts,
           COUNT(DISTINCT p.p_name) AS n_variants
    FROM part p LEFT JOIN canon c ON p.p_name = c.id
    GROUP BY 1
    """,
)
def match_resolve_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: fuzzy pairs -> string-keyed
    connected components -> lexicographically-smallest canonical name ->
    broadcast assignment back onto the fact table, rolled up per entity.
    The fact table never shuffles; the oracle walks the same match
    relation with a recursive CTE."""
    from erpl_web_spark.operators.matching import resolve_entities

    parts = load(spark, sf_dir, "part", spread=True)
    resolved = resolve_entities(parts, "p_name", max_distance=4)
    return resolved.groupBy(
        F.col("canonical_name")
    ).agg(
        F.count("*").alias("n_parts"),
        F.count_distinct("p_name").alias("n_variants"),
    )


@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH old_snap AS (
      SELECT doc_id, text, lang, source FROM documents
    ), new_snap AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text,
             lang, source
      FROM documents WHERE doc_id % 10 <> 0
      UNION ALL
      SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text, lang, source
      FROM documents WHERE doc_id % 13 = 0
    ), oh AS (
      SELECT doc_id, md5(concat(
        COALESCE(md5(CAST(text AS VARCHAR)), repeat('n', 32)),
        COALESCE(md5(CAST(lang AS VARCHAR)), repeat('n', 32)),
        COALESCE(md5(CAST(source AS VARCHAR)), repeat('n', 32)))) AS h
      FROM old_snap
    ), nh AS (
      SELECT doc_id, md5(concat(
        COALESCE(md5(CAST(text AS VARCHAR)), repeat('n', 32)),
        COALESCE(md5(CAST(lang AS VARCHAR)), repeat('n', 32)),
        COALESCE(md5(CAST(source AS VARCHAR)), repeat('n', 32)))) AS h
      FROM new_snap
    )
    SELECT COALESCE(oh.doc_id, nh.doc_id) AS doc_id,
           CASE WHEN oh.doc_id IS NULL THEN 'added'
                WHEN nh.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM oh FULL OUTER JOIN nh ON oh.doc_id = nh.doc_id
    WHERE oh.doc_id IS NULL OR nh.doc_id IS NULL OR oh.h <> nh.h
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot change feed (operators.cdc.snapshot_diff):
    derive added/removed/changed ids from two full corpus exports by
    comparing per-row md5 digests — turns snapshot-only sources into CDC
    inputs. The new snapshot is simulated deterministically from the old
    (doc_id%10 removed, %7 edited, %13 re-added under new ids); each
    side reduces to (id, 16-byte digest) map-side before the single
    full-outer shuffle, so bodies never shuffle and output is O(churn)."""
    from erpl_web_spark.operators.cdc import snapshot_diff

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    new = docs.where(F.col("doc_id") % 10 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")),
    )
    base = docs.agg((F.max("doc_id") + F.lit(1)).alias("_base"))
    added = (
        docs.where(F.col("doc_id") % 13 == 0)
        .crossJoin(F.broadcast(base))
        .withColumn("doc_id", F.col("doc_id") + F.col("_base"))
        .drop("_base")
    )
    return snapshot_diff(
        docs, new.unionByName(added), "doc_id", ["text", "lang", "source"]
    )


@register(
    "pipeline_split_leak_safe",
    oracle=f"""
    WITH RECURSIVE {_SQL_JACCARD_EDGES}, keyed AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_key
      FROM documents d LEFT JOIN components c ON d.doc_id = c.id
    ), bucketed AS (
      SELECT doc_id, group_key,
             CAST('0x' || substring(md5('42:' || CAST(group_key AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS bucket
      FROM keyed
    )
    SELECT doc_id, group_key,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM bucketed
    """,
)
def pipeline_split_leak_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (operators.curation.
    leak_safe_split): near-dup clusters (exact-Jaccard edges ->
    connected components) are atomic — every member hashes on its
    cluster label, so a paraphrase of a val document can never land in
    train. Same md5 bucket rule as pipeline_hash_split; the oracle walks
    the identical edge set with a recursive CTE."""
    from erpl_web_spark.operators.curation import leak_safe_split

    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["lang"], shingle_k=3, threshold=0.3
    )
    out = leak_safe_split(
        docs,
        "doc_id",
        pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=42,
        method="md5",
    )
    return out.select("doc_id", "group_key", "split")


@register(
    "curation_decontaminate_semantic",
    oracle=_SQL_IVF_ASSIGNED
    + """
    SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
           ROUND(list_dot_product(t.emb, e.emb)
             / (sqrt(list_dot_product(t.emb, t.emb)) * sqrt(list_dot_product(e.emb, e.emb))), 6) AS cosine_r
    FROM assigned t JOIN assigned e USING (cell)
    WHERE t.vec_id % 97 <> 0 AND e.vec_id % 97 = 0
      AND list_dot_product(t.emb, e.emb)
            / (sqrt(list_dot_product(t.emb, t.emb)) * sqrt(list_dot_product(e.emb, e.emb))) >= 0.4
    """,
)
def curation_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (operators.curation.
    semantic_decontaminate): flag training vectors cosine-similar to any
    eval vector (vec_id % 97 = 0 stands in for the benchmark), blocked
    by the shared deterministic IVF quantizer — n-gram containment
    misses paraphrased eval questions; this catches them. Cost is
    Sigma cell-pair products, never train x eval."""
    from erpl_web_spark.operators.curation import semantic_decontaminate

    emb = load(spark, sf_dir, "embeddings", spread=True)
    evals = emb.where(F.col("vec_id") % 97 == 0)
    train = emb.where(F.col("vec_id") % 97 != 0)
    flagged = semantic_decontaminate(
        train, evals, "vec_id", "embedding", threshold=0.4, stride=50
    )
    return flagged.select(
        "train_id", "eval_id", F.round("cosine", 6).alias("cosine_r")
    )


@register(
    "text_bpe_pairs",
    oracle=f"""
    WITH words AS (
      SELECT t AS word, COUNT(*) AS n
      FROM (SELECT unnest({_SQL_TOKS}) AS t FROM documents) GROUP BY t
    ), syms AS (
      SELECT n, list_concat(list_transform(range(1, length(word) + 1), i -> word[i:i]),
                            ['</w>']) AS s
      FROM words
    ), prs AS (
      SELECT n, s[i] AS left_sym, s[i + 1] AS right_sym
      FROM (SELECT n, s, unnest(range(1, len(s))) AS i FROM syms)
    )
    SELECT left_sym, right_sym, CAST(SUM(n) AS BIGINT) AS pair_count
    FROM prs GROUP BY 1, 2
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 BPE statistics (operators.text.bpe_pair_counts): weighted
    adjacent character-pair counts over the word-frequency dictionary —
    the corpus is scanned once and compressed to (word, n) before any
    pair math; every BPE training round shuffles only (symbol-pair,
    count) rows. The fully-SQL-expressible companion of the iterative
    trainer text_bpe_merges."""
    from erpl_web_spark.operators.text import (
        _word_symbols,
        bpe_pair_counts,
        word_freq,
    )

    docs = load(spark, sf_dir, "documents", spread=True)
    words = word_freq(docs).select(
        "n", _word_symbols(F.col("word")).alias("syms")
    )
    return bpe_pair_counts(words)


@register("text_bpe_merges", oracle=None)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table (operators.text.bpe_train, Sennrich et
    al. 2016), 12 merges with deterministic lexicographic tie-breaks.
    Iterative data-dependent argmax per round is not SQL-expressible
    (DuckDB recursive CTEs cannot aggregate in the recursive term), so
    this entry is rows-only BY DESIGN; the contract is pinned three
    ways: round-1 statistics are value-hash oracle-checked via
    text_bpe_pairs, the trainer is cross-checked against a pure-Python
    reference implementation in pytest, and the full merge table at both
    driver SFs is a checked-in golden fixture
    (tests/fixtures/golden/text_bpe_merges.json)."""
    from erpl_web_spark.operators.text import bpe_train

    docs = load(spark, sf_dir, "documents", spread=True)
    return bpe_train(docs, num_merges=12, min_pair_count=2)


# Fixed literal merge table for the oracle-checked BPE ENCODE entry:
# chosen so merges chain (2 needs 1, 3 needs 2, 8 needs 7 needs 6) and
# fire on the corpus vocabulary ('the', 'row', 'fast', 'hash' ...).
_BPE_ENC_MERGES = [
    ("t", "h"), ("th", "e"), ("the", "</w>"), ("a", "s"),
    ("as", "t"), ("r", "o"), ("ro", "w"), ("row", "</w>"),
]


def _sql_bpe_chain(merges: list[tuple[str, str]]) -> str:
    """DuckDB replay of bpe_encode's greedy left-to-right merge fold
    (operators.text._apply_merge) for a LITERAL merge list: one
    list_reduce per merge, accumulator = chr(31)-joined symbol string
    (symbols never contain chr(31)), tail-element match via exact /
    ends_with(sep || left). Verified symbol-for-symbol identical to the
    Spark fold on chaining cases ('throw' -> [th, row</w>])."""
    expr = "list_append(string_split(word, ''), '</w>')"
    for left, right in merges:
        merged = left + right
        expr = (
            "string_split(list_reduce(" + expr + ", (acc, x) -> CASE "
            f"WHEN (acc = '{left}' OR ends_with(acc, chr(31) || '{left}'))"
            f" AND x = '{right}' "
            f"THEN CASE WHEN acc = '{left}' THEN '{merged}' "
            f"ELSE substr(acc, 1, length(acc) - {len(left)}) || '{merged}' END "
            "ELSE acc || chr(31) || x END), chr(31))"
        )
    return expr


@register(
    "text_bpe_encode",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
    ), dw AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY doc_id, word
    ), dict AS (
      SELECT DISTINCT word FROM dw
    ), enc AS (
      SELECT word, {_sql_bpe_chain(_BPE_ENC_MERGES)} AS syms FROM dict
    ), stats AS (
      SELECT word, CAST(len(syms) AS BIGINT) AS k,
             CAST(len(list_filter(syms, s -> s = 'the</w>')) AS BIGINT) AS kt,
             CAST(len(list_filter(syms, s -> s = 'row</w>')) AS BIGINT) AS kr
      FROM enc
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(SUM(c * k) AS BIGINT) AS n_syms,
           CAST(SUM(c * kt) AS BIGINT) AS n_the,
           CAST(SUM(c * kr) AS BIGINT) AS n_row
    FROM dw JOIN stats USING (word) GROUP BY doc_id
    """,
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with a fixed literal merge table
    (operators.text.bpe_encode): the apply half of the tokenizer loop,
    value-hash-checked — the iterative TRAINER stays rows-only
    (text_bpe_merges), but encoding against a known vocabulary is
    deterministic and both engines replay the same greedy
    left-to-right merge fold (the oracle nests one list_reduce per
    merge). Eight chaining merges (t+h -> th+e -> the+</w>; r+o ->
    ro+w -> row+</w>) prove rank-order application: 'throw' encodes to
    [th, row</w>] only if merges apply in order. Per-doc outputs:
    word count, encoded symbol count, and fully-merged 'the'/'row'
    hits (all vary by doc). Encoding is map-only JVM folds — no
    shuffle beyond the final per-doc aggregation, no Python in the
    row path; a production 32k-merge table uses the same operator
    with checkpointed fold depth (text.py _CHECKPOINT_EVERY)."""
    from erpl_web_spark.operators.text import bpe_encode, tokens_expr

    docs = load(spark, sf_dir, "documents", spread=True)
    enc = bpe_encode(
        docs, [(i + 1, l, r, 0) for i, (l, r) in enumerate(_BPE_ENC_MERGES)]
    )
    return enc.where(F.size(tokens_expr("text")) > 0).select(
        "doc_id",
        F.size(tokens_expr("text")).cast("bigint").alias("n_words"),
        F.size("bpe_syms").cast("bigint").alias("n_syms"),
        F.size(F.filter(F.col("bpe_syms"), lambda s: s == F.lit("the</w>")))
        .cast("bigint")
        .alias("n_the"),
        F.size(F.filter(F.col("bpe_syms"), lambda s: s == F.lit("row</w>")))
        .cast("bigint")
        .alias("n_row"),
    )


@register(
    "similarity_threshold_sweep",
    oracle=_SQL_IVF_ASSIGNED
    + """
    SELECT GREATEST(LEAST(CAST(FLOOR(cos * 20) AS INT), 19), -20) AS bucket,
           COUNT(*) AS n_pairs
    FROM (
      SELECT list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
      FROM assigned a JOIN assigned b USING (cell)
      WHERE a.vec_id < b.vec_id
    )
    GROUP BY bucket
    """,
)
def similarity_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold calibration: the cosine distribution of ALL
    in-cell candidate pairs, bucketed at 0.05 width — one pass answers
    'how many pairs would each threshold keep?' before committing to an
    expensive full dedup. Same IVF-cell blocking as dedup_embedding
    (quadratic stays inside cells); the sweep costs one extra groupBy on
    a 4-byte bucket key over pairs that candidate generation already
    produced. Floor-divide + clamp bucketing is engine-portable
    arithmetic (same idiom as agg_histogram)."""
    from erpl_web_spark.operators.dedup import embedding_near_dup_pairs

    emb = load(spark, sf_dir, "embeddings", spread=True)
    pairs = embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=None, stride=50
    )
    bucket = F.greatest(
        F.least(F.floor(F.col("cosine") * 20).cast("int"), F.lit(19)),
        F.lit(-20),
    )
    return pairs.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_pairs")
    )


@register(
    "dedup_source_overlap",
    oracle=f"""
    WITH RECURSIVE {_SQL_JACCARD_EDGES}
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT CASE WHEN da.source <= db.source THEN p.id_a ELSE p.id_b END) AS n_docs_a
    FROM pairs p
    JOIN documents da ON p.id_a = da.doc_id
    JOIN documents db ON p.id_b = db.doc_id
    GROUP BY 1, 2
    """,
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pair counts grouped by
    the (unordered) source pair — which crawls/feeds duplicate each
    other, the number that decides which source to drop or cap. Joins
    the skinny (id_a, id_b) edge set back to (id, source) twice;
    sources are normalized least/greatest so the matrix is triangular.
    n_docs_a counts the distinct lower-source docs involved — dup
    VOLUME vs dup SPREAD."""
    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["lang"], shingle_k=3, threshold=0.3
    )
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("__sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("__sb")
            ),
            "id_b",
        )
    )
    return j.groupBy(
        F.least("__sa", "__sb").alias("source_a"),
        F.greatest("__sa", "__sb").alias("source_b"),
    ).agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct(
            F.when(F.col("__sa") <= F.col("__sb"), F.col("id_a")).otherwise(
                F.col("id_b")
            )
        ).alias("n_docs_a"),
    )


@register(
    "multimodal_audio_chunks",
    oracle="""
    SELECT media_id, CAST(ci AS INT) AS chunk_idx,
           CAST(ci * 300 AS BIGINT) AS start_ms,
           CAST(LEAST(500, dur - ci * 300) AS BIGINT) AS dur_ms
    FROM (
      SELECT doc_id AS media_id, LENGTH(text) * 10 AS dur,
             unnest(range(0, GREATEST(
               CAST(CEIL((LENGTH(text) * 10 - 500) / 300.0) AS INT) + 1, 1))) AS ci
      FROM documents
    )
    WHERE dur - ci * 300 > 0
    """,
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping audio-window fan-out (500 ms windows, 300 ms hop over
    the fake 10 ms-per-byte duration): the speech-preprocessing shape —
    explode over a JVM sequence on metadata, ragged final window, no
    Python per row, payload untouched (operators.multimodal.audio_chunks)."""
    from erpl_web_spark.operators.multimodal import audio_chunks, documents_as_media

    media = documents_as_media(
        load(spark, sf_dir, "documents"), media_type="audio"
    )
    return audio_chunks(media, window_ms=500, stride_ms=300)


@register(
    "curation_temperature_mixture",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_SQL_TOKS}) AS n_toks FROM documents
    ), tot AS (
      SELECT source, CAST(FLOOR(SQRT(CAST(SUM(n_toks) AS DOUBLE))) AS BIGINT) AS w
      FROM t GROUP BY source
    ), denom AS (
      SELECT SUM(w) AS s FROM tot
    ), bud AS (
      SELECT source, (20000 * w) // s AS b FROM tot, denom
    ), keyed AS (
      SELECT doc_id, source, n_toks,
             CAST('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS k
      FROM t
    ), cum AS (
      SELECT source, doc_id, n_toks,
             SUM(n_toks) OVER (PARTITION BY source ORDER BY k, doc_id
                               ROWS UNBOUNDED PRECEDING) AS ct
      FROM keyed
    )
    SELECT c.source, COUNT(*) AS n_docs,
           CAST(SUM(c.n_toks) AS BIGINT) AS n_tokens_kept,
           CAST(MAX(bud.b) AS BIGINT) AS budget
    FROM cum c JOIN bud USING (source)
    WHERE c.ct <= bud.b
    GROUP BY c.source
    """,
)
def curation_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (alpha = 0.5): per-source token
    budgets derived from corpus statistics with exact integer sqrt
    (operators.curation.temperature_budgets — upsamples small sources
    vs proportional), then the deterministic hash-ordered token-budget
    sampler. Budgets are a per-source scalar collect (configuration-
    scale); the sample itself is the audited token_budget_sample window.
    Summarized per source: docs kept, tokens kept, budget."""
    from erpl_web_spark.operators.curation import (
        temperature_budgets,
        token_budget_sample,
    )
    from erpl_web_spark.operators.text import token_count_expr

    docs = load(spark, sf_dir, "documents", spread=True).withColumn(
        "n_toks", token_count_expr("text")
    )
    budgets = temperature_budgets(docs, "source", "n_toks", total_budget=20000)
    kept = token_budget_sample(
        docs, "source", "doc_id", "n_toks", budgets, seed=42
    )
    bud = F.create_map(
        *[x for k, v in sorted(budgets.items()) for x in (F.lit(k), F.lit(int(v)))]
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_toks").cast("bigint")).alias("n_tokens_kept"),
        F.max(bud[F.col("source")]).cast("long").alias("budget"),
    )


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, t AS term FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS t FROM documents)
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS nd FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(tf.tf * n.nd AS DOUBLE) / dfreq.df AS score
      FROM tf JOIN dfreq USING (term), n
      WHERE dfreq.df >= 2
    ), ranked AS (
      SELECT doc_id, term, tf, df, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document by linear-idf TF-IDF
    (operators.text.tfidf_top_terms): rank-equivalent to log-idf within
    a document at fixed tf, but an exact integer ratio — so it value-
    hash-matches across engines where libm log cannot. Two groupBy
    shuffles + a WindowGroupLimit top-k; min_df=2 drops hapax noise."""
    from erpl_web_spark.operators.text import tfidf_top_terms

    docs = load(spark, sf_dir, "documents", spread=True)
    return tfidf_top_terms(docs, "doc_id", "text", k=3, min_df=2)


def bm25_scorer_ctes(toks_prelude: str) -> str:
    """The BM25 scorer as a reusable CTE chain ending in
    ``sc(query_id, doc_id, score)``: postings, doc lengths, df, 1-row
    N/avgdl model, Robertson idf with the exact 2.2/1.2/0.25/0.75
    literals, fixed 20-query prefix fixture — ONE copy of the scorer
    SQL serves the testdata entry, the natural-entropy twin, AND the
    RRF hybrid oracle, so a knob change cannot silently fork the
    gates."""
    return f"""{toks_prelude},
    terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                  AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
    q AS (SELECT doc_id AS query_id, unnest(list_distinct(t[1:5])) AS term
          FROM toks WHERE doc_id % 25 = 0 AND doc_id < 500),
    sc AS (
      SELECT q.query_id, tf.doc_id,
             SUM(ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / st.avgdl)))) AS score
      FROM tf JOIN q USING (term) JOIN dfreq USING (term)
           JOIN dl ON dl.doc_id = tf.doc_id, st
      GROUP BY q.query_id, tf.doc_id
    )"""


def bm25_oracle_sql(toks_prelude: str) -> str:
    """BM25 top-3 oracle: the shared scorer CTEs plus the 1e-6-rounded
    ranking tail (ties -> doc id)."""
    return f"""
    WITH {bm25_scorer_ctes(toks_prelude)}
    SELECT query_id, doc_id, ROUND(score, 6) AS score_r, CAST(rank AS INT) AS rank
    FROM (
      SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(score, 6) DESC, doc_id) AS rank
      FROM sc)
    WHERE rank <= 3
    """


@register(
    "text_bm25_topk",
    oracle=bm25_oracle_sql(
        f"toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents)"
    ),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-3 retrieval (operators.text.bm25_topk, k1=1.2,
    b=0.75): every 25th document below id 500 contributes its first 5
    tokens as a query (a FIXED 20-query set at every SF — the query
    side is config-scale by the operator's broadcast contract, so the
    sf1 slope measures corpus scaling, not query-count scaling); each
    query self-retrieves against the corpus — the lexical ranker a
    curation pipeline runs for decontamination lookups and seed
    expansion next to the embedding ANN path. The oracle replays the
    whole scorer in SQL — postings, document lengths, df, the 1-row
    N/avgdl model, the always-positive Robertson idf, tf saturation
    and length normalization with IDENTICAL double literals (2.2 =
    k1+1, 0.25 = 1-b) — and both engines rank on the 1e-6-rounded
    score with doc-id ties, so rank agreement is immune to summation
    order. Corpus never shuffles on anything but the (query, doc)
    partial-sum; the query term set broadcasts and prunes postings
    before the df join."""
    from erpl_web_spark.operators.text import bm25_topk, tokens_expr

    d = load(spark, sf_dir, "documents", spread=True)
    queries = d.where((F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 500)).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(tokens_expr(F.col("text")), 1, 5), " ").alias(
            "query_text"
        ),
    )
    return bm25_topk(d, queries, "doc_id", "text", k=3, k1=1.2, b=0.75)


def _rrf_oracle() -> str:
    """DuckDB twin of retrieval_hybrid_rrf: the shared BM25 scorer CTEs
    (top-10 tail), the cosine ranker over the SAME 20 query ids, and
    the integer-exact RRF combine — contributions are
    lcm(61..70) // (60 + rank), so the fused score is an
    order-insensitive BIGINT sum in both engines."""
    import math

    scale = math.lcm(*range(61, 71))
    return f"""
    WITH {bm25_scorer_ctes(
        f"toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents)"
    )},
    lex AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(score, 6) DESC, doc_id) AS rank
      FROM sc
    ),
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    sem_sc AS (
      SELECT p.vec_id AS query_id, c.vec_id AS doc_id,
             list_dot_product(p.emb, c.emb)
               / (sqrt(list_dot_product(p.emb, p.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))) AS cosine
      FROM v p JOIN v c
        ON p.vec_id % 25 = 0 AND p.vec_id < 500 AND p.vec_id <> c.vec_id
    ),
    sem AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, doc_id) AS rank
      FROM sem_sc
    ),
    uni AS (
      SELECT query_id, doc_id, rank FROM lex WHERE rank <= 10
      UNION ALL
      SELECT query_id, doc_id, rank FROM sem WHERE rank <= 10
    ),
    fused AS (
      SELECT query_id, doc_id,
             CAST(SUM({scale} // (60 + rank)) AS BIGINT) AS rrf_int,
             CAST(COUNT(*) AS INT) AS n_lists
      FROM uni GROUP BY 1, 2
    )
    SELECT query_id, doc_id, rrf_int, n_lists, CAST(rank AS INT) AS rank
    FROM (
      SELECT query_id, doc_id, rrf_int, n_lists,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_int DESC, doc_id) AS rank
      FROM fused)
    WHERE rank <= 5
    """


@register("retrieval_hybrid_rrf", oracle=_rrf_oracle())
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-10 (text.bm25_topk) and embedding
    cosine top-10 (similarity.cosine_top_k_blas) over the SAME 20-query
    fixture (doc_id ≡ vec_id by testdata construction), fused by
    INTEGER-exact Reciprocal Rank Fusion (similarity.rrf_fuse, k=60) —
    the standard two-tower + lexical combiner a retrieval/curation
    stack runs, with contributions lcm(61..70) // (60 + rank) so the
    fused score is an order-insensitive BIGINT sum: no double-sum tie
    ambiguity across engines or partitionings. Each ranker keeps its
    own scale posture (BM25's broadcast-pruned inverted index, the
    BLAS shortlist); fusion itself touches only queries x 10 x 2
    skinny rows — one map-side-combined groupBy plus a
    WindowGroupLimit."""
    from erpl_web_spark.operators.similarity import rrf_fuse
    from erpl_web_spark.operators.text import bm25_topk, tokens_expr

    d = load(spark, sf_dir, "documents", spread=True)
    emb = load(spark, sf_dir, "embeddings", spread=True)
    queries = d.where(
        (F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 500)
    ).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(tokens_expr(F.col("text")), 1, 5), " ").alias(
            "query_text"
        ),
    )
    lex = bm25_topk(d, queries, "doc_id", "text", k=10, k1=1.2, b=0.75)
    probes = emb.where((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 500))
    sem = cosine_top_k_blas(emb, probes, "vec_id", "embedding", k=10).select(
        F.col("probe_id").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    return rrf_fuse([lex, sem], k=60, max_rank=10, top_k=5)


def _zorder_oracle() -> str:
    """SQL twin of the Morton interleave (bits=10, dims x/y) + the
    top-8-bit bucket profile — unrolled shift/and/or terms, identical
    integer arithmetic in both engines."""
    terms = " + ".join(
        f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
        for i in range(10)
    )
    return f"""
    WITH q AS (
      SELECT o_custkey % 1024 AS x, o_orderkey % 1024 AS y FROM orders
    ), k AS (
      SELECT x, y, {terms} AS key FROM q
    )
    SELECT key >> 12 AS bucket, COUNT(*) AS n_rows,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM k GROUP BY bucket
    """


@register("layout_zorder_profile", oracle=_zorder_oracle())
def layout_zorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout profile (operators.layout): interleave
    the bits of two quantized order dimensions (custkey, orderkey mod
    1024; 10 bits each) and report each top-8-bit key bucket's row
    count and per-dimension min/max span — the measurable form of the
    data-skipping guarantee: every bucket (= the file a range-
    partitioned write would produce) is a box of side <= 64 in BOTH
    dimensions, so parquet min/max stats prune predicates on EITHER
    column, which a single-column sort cannot give. Pure shift/and/or
    column arithmetic (no UDF), bit-identical across engines; the
    oracle unrolls the same 20 interleave terms in SQL. The box-side
    property itself is pytest-pinned."""
    from erpl_web_spark.operators.layout import zorder_bucket_profile

    d = load(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 1024).alias("x"),
        (F.col("o_orderkey") % 1024).alias("y"),
    )
    return zorder_bucket_profile(d, ["x", "y"], bits=10, bucket_bits=8)


@register(
    "graph_triangles",
    oracle="""
    WITH ce AS (
      SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), tri AS (
      SELECT a.u AS x, a.v AS y, b.v AS z
      FROM ce a JOIN ce b ON b.u = a.v
           JOIN ce c ON c.u = a.u AND c.v = b.v
    ), nodes AS (
      SELECT x AS id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY id
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (graph.triangle_counts) over the
    co-purchase graph — parts appearing in the same order are edges;
    triangles are co-purchase cliques, the clustering signal
    recommendation/dedup graphs use. Spark runs the degree-ORIENTED
    node-iterator (each triangle enumerated once at its lowest-
    (degree, id) vertex; wedge fan-out bounded by the oriented
    out-degree O(sqrt(E)) regardless of raw skew — the celebrity-node
    formulation); the oracle enumerates canonically ordered triples
    with a 3-way self-join. Different enumeration orders, identical
    per-node counts — which is exactly what the value hash pins."""
    from erpl_web_spark.operators.graph import triangle_counts

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "k")
        .where(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
    )
    return triangle_counts(edges)


def _kcore_oracle(k: int = 90, rounds: int = 3) -> str:
    """Unrolled twin of graph.kcore_peel over the part co-purchase
    graph: each round keeps edges whose BOTH endpoints currently have
    degree >= k (HAVING-IN renders the semi-joins), then the final
    degrees left-join onto the full node set. Pure integer counting —
    the iterative-oracle idiom (pagerank/labelprop) for the peeling
    family."""
    lvls = []
    prev = "e"
    for i in range(1, rounds + 1):
        lvls.append(f"""
    l{i} AS MATERIALIZED (
      SELECT * FROM {prev}
      WHERE s IN (SELECT s FROM {prev} GROUP BY s HAVING COUNT(*) >= {k})
        AND t IN (SELECT s FROM {prev} GROUP BY s HAVING COUNT(*) >= {k})
    )""")
        prev = f"l{i}"
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS MATERIALIZED (SELECT u AS s, v AS t FROM e0
                       UNION ALL SELECT v, u FROM e0),
    nodes AS (SELECT DISTINCT s AS id FROM e),
    {",".join(lvls)},
    fdeg AS (SELECT s AS id, CAST(COUNT(*) AS BIGINT) AS deg_final
             FROM {prev} GROUP BY s)
    SELECT n.id,
           CAST(CASE WHEN f.id IS NULL THEN 0 ELSE 1 END AS INT) AS survived,
           COALESCE(f.deg_final, 0) AS deg_final
    FROM nodes n LEFT JOIN fdeg f ON f.id = n.id
    """


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (graph.kcore_peel, k=90, 3 rounds) over
    the part co-purchase graph — the dense-cluster detector of the
    graph family: pairwise dedup finds edges, connected components
    finds reachability, the k-core finds the TEMPLATE-FARM-dense
    neighborhoods where every member keeps >= 90 co-purchase partners
    even after weakly-attached nodes peel away. k=90 sits between the
    graph's min and median degree, so the peel CASCADES: at sf0.001
    the whole graph unravels within two rounds (the collapse is the
    hash), at sf0.01/0.1 each round removes a varying shell and
    leaves a dense core. Pure integer counting, fixed round count —
    the pagerank/labelprop unrolled-oracle posture; per round one
    degree groupBy + two semi-joins on the shrinking edge list."""
    from erpl_web_spark.operators.graph import kcore_peel

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("kk"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("kk"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "kk")
        .where(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
    )
    return kcore_peel(edges, k=90, rounds=3)


def _pagerank_oracle(iterations: int = 5) -> str:
    """Unrolled-CTE twin of graph.pagerank_int over the symmetrized
    customer<->supplier co-order graph: every round is EXACT integer
    arithmetic (r // deg shares, (85 * sum) // 100 damping), so the
    value hash pins the whole iterative fixpoint — the BPE-trainer
    unroll idiom applied to a graph algorithm. MATERIALIZED keeps
    DuckDB from re-inlining the edge join into every round."""
    rounds = []
    prev = "r0"
    for k in range(1, iterations + 1):
        rounds.append(f"""
    r{k} AS MATERIALIZED (
      SELECT n.id,
             CAST(150000000 + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS id, SUM(p.r // deg.d) AS m
        FROM edges e JOIN {prev} p ON p.id = e.src
             JOIN deg ON deg.src = e.src
        GROUP BY e.dst) s ON s.id = n.id
    )""")
        prev = f"r{k}"
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT src, dst FROM e0
      UNION ALL SELECT dst AS src, src AS dst FROM e0
    ),
    deg AS MATERIALIZED (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
    r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM nodes),
    {",".join(rounds)}
    SELECT id, r AS rank_int FROM {prev}
    """


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (graph.pagerank_int, 5 rounds, d=0.85)
    over the symmetrized customer<->supplier co-order graph — authority
    weighting for source mixing, the iterative-algorithm family next
    to connected_components. Integer unit arithmetic makes the
    fixpoint bit-identical under any partitioning OR engine, so the
    oracle unrolls all 5 rounds as CTEs and value-hashes every node's
    exact rank — no rows-only caveat for an iterative algorithm.
    Per round: one hash join onto the persisted link table + one
    BIGINT groupBy — no driver-side graph state."""
    from erpl_web_spark.operators.graph import pagerank_int

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(1_000_000)).alias("dst"),
        )
        .distinct()
    )
    return pagerank_int(edges, iterations=5, symmetrize=True)


def _labelprop_oracle(iterations: int = 4) -> str:
    """Unrolled-CTE twin of graph.label_propagation over the
    same-nation customer<->supplier co-order graph: every round is the
    deterministic synchronous vote (neighbor labels + the node's own,
    count ties to the SMALLEST label) in pure integer counting, so the
    value hash pins the whole iterative consensus — the
    _pagerank_oracle idiom for the community family."""
    rounds = []
    prev = "l0"
    for k in range(1, iterations + 1):
        rounds.append(f"""
    l{k} AS MATERIALIZED (
      SELECT id, lab FROM (
        SELECT id, lab,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY c DESC, lab ASC) AS rn
        FROM (
          SELECT id, lab, COUNT(*) AS c FROM (
            SELECT e.dst AS id, p.lab
            FROM edges e JOIN {prev} p ON p.id = e.src
            UNION ALL SELECT id, lab FROM {prev}
          ) GROUP BY id, lab)
      ) WHERE rn = 1
    )""")
        prev = f"l{k}"
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE c.c_nationkey = s.s_nationkey
    ),
    edges AS MATERIALIZED (
      SELECT src, dst FROM e0
      UNION ALL SELECT dst AS src, src AS dst FROM e0
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
    l0 AS (SELECT id, id AS lab FROM nodes),
    {",".join(rounds)}
    SELECT id, CAST(lab AS BIGINT) AS label FROM {prev}
    """


@register("graph_labelprop", oracle=_labelprop_oracle())
def graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities
    (graph.label_propagation, 4 synchronous rounds, self-retention,
    ties to smallest label) over the customer<->supplier co-order
    graph RESTRICTED to same-nation pairs — the nation partition gives
    the graph >= 25 ground-truth communities no propagation can merge,
    so the label column stays varied while dense within-nation
    clusters reach consensus: the community-detection tier between
    connected_components (pure reachability) and pagerank (authority).
    Pure integer counting makes every round bit-identical across
    engines and partitionings; the oracle unrolls all 4 rounds as CTEs
    and value-hashes every node's final label. Per round: one hash
    join onto the persisted edge list + one vote count with map-side
    combine + one max_by per node."""
    from erpl_web_spark.operators.graph import label_propagation

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(1_000_000)).alias("dst"),
        )
        .distinct()
    )
    return label_propagation(edges, iterations=4, symmetrize=True)


@register(
    "pipeline_corpus_report",
    oracle=f"""
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS n_tokens,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
           CAST(quantile_cont(len({_SQL_TOKS}), 0.5) AS DOUBLE) AS p50_tokens,
           COUNT(*) - COUNT(DISTINCT md5({_SQL_NORM})) AS n_exact_dups
    FROM documents
    GROUP BY source, lang
    """,
)
def pipeline_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset datasheet (operators.text.corpus_report): per
    (source, lang) volumes, exact median length (Spark percentile ==
    DuckDB quantile_cont), and exact-dup counts — one groupBy, digests
    shuffled inside the same aggregation."""
    from erpl_web_spark.operators.text import corpus_report

    return corpus_report(load(spark, sf_dir, "documents", spread=True))


@register(
    "text_lang_confusion",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, lang, {_COUNTS} FROM documents
    ), b AS (
      SELECT doc_id, lang, c_en, c_de, c_fr, c_es,
             GREATEST(c_en, c_de, c_fr, c_es) AS best FROM c
    )
    SELECT lang, {_CASE} AS pred_lang, COUNT(*) AS n
    FROM b GROUP BY lang, pred_lang
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled lang vs predicted lang with
    counts — the accuracy audit for the stopword-vote classifier, and
    the template for validating ANY per-doc classifier against labels.
    Map-only classify + one tiny groupBy."""
    from erpl_web_spark.operators.text import with_language_id

    docs = load(spark, sf_dir, "documents", spread=True)
    return (
        with_language_id(docs)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             {_SQL_TOKS} AS toks,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
             LENGTH(regexp_replace(text, '[^#]', '', 'g'))
               + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS n_symbols
      FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT (SELECT MAX(doc_id) + 1 FROM documents) + v.off, v.t
        FROM (VALUES
          (0, '## ## ## ## ##'),
          (1, '- a' || chr(10) || '- b' || chr(10) || '- c' || chr(10) || '- d'),
          (2, 'first line...' || chr(10) || 'second line...' || chr(10) || 'third plain line here')
        ) v(off, t)
      )
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             COALESCE(CAST(list_sum(list_transform(toks, t -> LENGTH(t))) AS DOUBLE), 0)
               / GREATEST(len(toks), 1) AS mean_len,
             n_symbols,
             GREATEST(len(lines), 1) AS n_lines,
             len(list_filter(lines, l -> regexp_matches(trim(l), '^(\\-|\\*|•)'))) AS bullet_lines,
             len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$'))) AS ellipsis_lines,
             len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS alpha_words,
             len(list_distinct(list_filter(toks,
               t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t)))) AS stop_hits
      FROM s
    )
    SELECT doc_id,
           n_words >= 50 AND n_words <= 100000 AS g_word_count,
           mean_len >= 3.0 AND mean_len <= 10.0 AS g_mean_word_len,
           CAST(n_symbols AS DOUBLE) / GREATEST(n_words, 1) <= 0.1 AS g_symbol_ratio,
           CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9 AS g_bullet_ratio,
           CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3 AS g_ellipsis_ratio,
           CAST(alpha_words AS DOUBLE) / GREATEST(n_words, 1) >= 0.8 AS g_alpha_ratio,
           stop_hits >= 2 AS g_stopword_hits,
           (n_words >= 50 AND n_words <= 100000)
             AND (mean_len >= 3.0 AND mean_len <= 10.0)
             AND (CAST(n_symbols AS DOUBLE) / GREATEST(n_words, 1) <= 0.1)
             AND (CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9)
             AND (CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3)
             AND (CAST(alpha_words AS DOUBLE) / GREATEST(n_words, 1) >= 0.8)
             AND (stop_hits >= 2) AS gopher_keep
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (operators.text.with_gopher_rules;
    Rae et al. 2021 A1.1) — per-document booleans for each published
    MassiveWeb rule plus the conjunction. Map-only regex/HOF; the
    thresholds are the paper's. Three planted violators (symbol/short-
    word flood, all-bullet doc, ellipsis-heavy doc; re-keyed past
    max(doc_id)) make the FALSE path of five rules non-vacuous at
    every SF — the raw corpus violates only the word-count floor
    (round-8 vacuity audit)."""
    from erpl_web_spark.operators.text import with_gopher_rules

    corpus = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    base = corpus.agg((F.max("doc_id") + F.lit(1)).alias("_b"))
    bad = local_rows(spark,
        [
            (0, "## ## ## ## ##"),
            (1, "- a\n- b\n- c\n- d"),
            (2, "first line...\nsecond line...\nthird plain line here"),
        ],
        "off long, t string",
    )
    planted = bad.crossJoin(F.broadcast(base)).select(
        (F.col("off") + F.col("_b")).alias("doc_id"), F.col("t").alias("text")
    )
    docs = corpus.unionByName(planted)
    return with_gopher_rules(docs).select(
        "doc_id", "g_word_count", "g_mean_word_len", "g_symbol_ratio",
        "g_bullet_ratio", "g_ellipsis_ratio", "g_alpha_ratio",
        "g_stopword_hits", "gopher_keep",
    )


@register(
    "text_clean_lines",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || chr(10) || 'enable javascript to continue here'
                  || chr(10) || 'too short'
                  || chr(10) || 'this ordinary closing sentence has plenty of tokens'
                  || repeat(chr(10) || 'extra filler line with some tokens',
                            CAST(doc_id % 2 AS INT))
               AS text
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
      FROM aug
    ), k AS (
      SELECT doc_id, lines,
             list_filter(lines, l ->
               len(list_filter(string_split_regex(trim(l), '\\s+'), x -> x <> '')) >= 3
               AND NOT contains(lower(l), 'javascript')
               AND NOT contains(lower(l), 'cookie')
               AND NOT contains(lower(l), 'all rights reserved')) AS kept
      FROM s
    )
    SELECT doc_id,
           CAST(len(lines) AS INT) AS n_lines,
           CAST(len(kept) AS INT) AS n_lines_kept,
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
    FROM k
    """,
)
def text_clean_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line filtering (operators.text.clean_lines): keep lines
    with >= 3 tokens and no javascript/cookie/rights-reserved
    boilerplate, rebuild the document. Pure map, zero shuffle — the
    rule-based complement of the cross-document span scrubber. Every
    document gets a planted 3-line tail (a javascript boilerplate line,
    a 2-token line, a keepable sentence) — the raw corpus is
    single-line, which left the line splitting/filtering vacuous in
    the driver check (n_lines was constant 1; round-8 vacuity
    audit)."""
    from erpl_web_spark.operators.text import clean_lines

    docs = load(spark, sf_dir, "documents", spread=True).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(
                "\nenable javascript to continue here"
                "\ntoo short"
                "\nthis ordinary closing sentence has plenty of tokens"
            ),
            F.repeat(
                F.lit("\nextra filler line with some tokens"),
                (F.col("doc_id") % 2).cast("int"),
            ),
        ),
    )
    return clean_lines(docs).select(
        "doc_id", "n_lines", "n_lines_kept", "clean_text"
    )


@register(
    "pipeline_line_index_batches",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || chr(10) || 'shared global footer line'
                  || CASE WHEN doc_id IN (0, 1)
                          THEN chr(10) || 'cross batch rare line'
                          ELSE '' END
                  || CASE WHEN doc_id % 5 <> 0
                          THEN chr(10) || 'unique closing line for document '
                               || doc_id
                          ELSE '' END
               AS text
      FROM documents
    ), s AS (
      SELECT doc_id, doc_id % 2 AS b, string_split(text, chr(10)) AS lines
      FROM aug
    ), l AS (
      SELECT doc_id, b, generate_subscripts(lines, 1) AS pos,
             trim(lines[generate_subscripts(lines, 1)]) AS line
      FROM s
    ), le AS (
      SELECT doc_id, b, pos, line FROM l WHERE line <> ''
    ), c0 AS (
      SELECT line, COUNT(DISTINCT doc_id) AS n FROM le WHERE b = 0
      GROUP BY line
    ), c1 AS (
      SELECT line, COUNT(DISTINCT doc_id) AS n FROM le WHERE b = 1
      GROUP BY line
    ), tot AS (
      SELECT COALESCE(c0.line, c1.line) AS line,
             COALESCE(c0.n, 0) + COALESCE(c1.n, 0) AS n
      FROM c0 FULL JOIN c1 ON c0.line = c1.line
    ), j AS (
      SELECT le.doc_id, le.pos, le.line,
             CASE WHEN le.b = 0 THEN (SELECT c0.n FROM c0
                                      WHERE c0.line = le.line)
                  ELSE (SELECT tot.n FROM tot WHERE tot.line = le.line)
             END AS n_eff
      FROM le
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE n_eff <= 1) AS INT) AS n_lines_kept,
           COALESCE(string_agg(line, chr(10) ORDER BY pos)
                      FILTER (WHERE n_eff <= 1), '') AS clean_text
    FROM j GROUP BY doc_id
    """,
)
def pipeline_line_index_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental line-dedup index (operators.line_index) replayed
    as a deterministic two-batch sequence: even-id docs arrive as batch
    0, odd-id docs as batch 1; each batch is rewritten against the
    ACCUMULATED line document frequencies (its own plus every earlier
    batch) and its count increment is manifest-committed. The oracle
    replays both phases, pinning the forward-only contract by value:
    the planted 'cross batch rare line' lives on exactly docs 0 and 1,
    so batch 0 (doc 0) KEEPS it — unique at publish time — while batch
    1 (doc 1) DROPS it (accumulated df = 2); the shared footer is hot
    from batch 0 onward. The entry writes to a per-invocation temp
    index, collects the clean union back to a local relation and
    removes the index — suite runs stay stateless. The collect is
    O(corpus text) on the DRIVER: fine for the suite-gate corpora
    (MBs; verified through sf1), deliberately NOT the production
    read path — production consumes ``read_clean_batches`` lazily
    from a durable index path."""
    import shutil
    import tempfile

    from erpl_web_spark.operators.line_index import (
        line_index_apply,
        read_clean_batches,
    )

    aug = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nshared global footer line"),
            F.when(
                F.col("doc_id").isin(0, 1),
                F.lit("\ncross batch rare line"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 != 0,
                F.concat(
                    F.lit("\nunique closing line for document "),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    path = tempfile.mkdtemp(prefix="lineidx_suite_")
    try:
        line_index_apply(aug.where(F.col("doc_id") % 2 == 0), 0, path)
        line_index_apply(aug.where(F.col("doc_id") % 2 == 1), 1, path)
        rows = read_clean_batches(spark, path).collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_rows(spark, rows, "doc_id long, n_lines int, n_lines_kept int, clean_text string")


@register(
    "pipeline_line_index_repave",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || chr(10) || 'shared global footer line'
                  || CASE WHEN doc_id IN (0, 1)
                          THEN chr(10) || 'cross batch rare line'
                          ELSE '' END
                  || CASE WHEN doc_id % 5 <> 0
                          THEN chr(10) || 'unique closing line for document '
                               || doc_id
                          ELSE '' END
               AS text
      FROM documents
    ), s AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines FROM aug
    ), l AS (
      SELECT doc_id, generate_subscripts(lines, 1) AS pos,
             trim(lines[generate_subscripts(lines, 1)]) AS line
      FROM s
    ), le AS (
      SELECT doc_id, pos, line FROM l WHERE line <> ''
    ), freq AS (
      SELECT line, COUNT(DISTINCT doc_id) AS n FROM le GROUP BY line
    )
    SELECT le.doc_id,
           CAST(COUNT(*) AS INT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE freq.n <= 1) AS INT) AS n_lines_kept,
           COALESCE(string_agg(le.line, chr(10) ORDER BY le.pos)
                      FILTER (WHERE freq.n <= 1), '') AS clean_text
    FROM le JOIN freq USING (line) GROUP BY le.doc_id
    """,
)
def pipeline_line_index_repave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipeline_line_index_batches``' sequel: the same two-batch
    forward-only replay followed by ``line_index_repave`` — the
    reconciliation job that rewrites history (operators.line_index).
    The oracle is the BATCH operator's semantics over the accumulated
    corpus (plain whole-corpus document frequency, no per-batch
    visibility), pinning the repave's contract by value: the planted
    'cross batch rare line' that the forward-only entry proves KEPT on
    batch-0's doc 0 must be GONE from doc 0 after the repave
    (accumulated df = 2), and every already-hot line stays dropped.
    Same stateless temp-index + driver-collect caveats as the batches
    entry (suite corpora only; production reads the index lazily)."""
    import shutil
    import tempfile

    from erpl_web_spark.operators.line_index import (
        line_index_apply,
        line_index_repave,
        read_clean_batches,
    )

    aug = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nshared global footer line"),
            F.when(
                F.col("doc_id").isin(0, 1),
                F.lit("\ncross batch rare line"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 != 0,
                F.concat(
                    F.lit("\nunique closing line for document "),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    path = tempfile.mkdtemp(prefix="lineidx_repave_suite_")
    try:
        line_index_apply(aug.where(F.col("doc_id") % 2 == 0), 0, path)
        line_index_apply(aug.where(F.col("doc_id") % 2 == 1), 1, path)
        line_index_repave(spark, path)
        rows = read_clean_batches(spark, path).collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_rows(spark, rows, "doc_id long, n_lines int, n_lines_kept int, clean_text string")


@register(
    "pipeline_curate_normalize",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT (SELECT MAX(doc_id) + 1 FROM documents) + doc_id,
             translate(text, ' ', chr(160))
      FROM documents WHERE doc_id < 10
    ), n AS (
      SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(
                 translate(text,
                   chr(8216) || chr(8217) || chr(8220) || chr(8221)
                     || chr(8211) || chr(8212) || chr(160),
                   chr(39) || chr(39) || chr(34) || chr(34) || '--' || ' '),
                 '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
               '[ \\t]+', ' ', 'g')) AS norm_text
      FROM corpus
    ), ek AS (
      SELECT MIN(doc_id) AS keep_id FROM n
      GROUP BY md5(trim(regexp_replace(lower(norm_text), '\\s+', ' ', 'g')))
    )
    SELECT 'input' AS stage, CAST((SELECT COUNT(*) FROM corpus) AS BIGINT) AS n
    UNION ALL
    SELECT 'normalize_modified',
           (SELECT COUNT(*) FROM n WHERE norm_text <> text)
    UNION ALL
    SELECT 'exact_dedup_dropped',
           (SELECT COUNT(*) FROM n) - (SELECT COUNT(*) FROM ek)
    UNION ALL
    SELECT 'output', (SELECT COUNT(*) FROM ek)
    """,
)
def pipeline_curate_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curate() facade's normalize -> exact-dedup composition,
    accounting oracle-checked: each of the first 10 docs gets a twin
    with every space turned into a non-breaking space — INVISIBLE to
    the exact-dedup normalizer (neither Java nor RE2 counts NBSP in
    \\s), so the twins survive dedup unless the normalization stage
    runs first and maps NBSP back to space. The oracle replays
    normalize (translate + control strip + collapse) then the min-id
    digest dedup on the NORMALIZED text
    (erpl_web_spark.pipeline.curate, normalize stage)."""
    from erpl_web_spark.pipeline import CurationConfig, curate

    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    base = docs.agg((F.max("doc_id") + F.lit(1)).alias("_b"))
    twins = (
        docs.where(F.col("doc_id") < 10)
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("_b") + F.col("doc_id")).alias("doc_id"),
            F.translate(F.col("text"), " ", "\u00a0").alias("text"),
        )
    )
    kept, report = curate(
        docs.unionByName(twins),
        CurationConfig(normalize=True, near_dedup=False, quality_gate=False),
    )
    kept.unpersist()  # only the accounting is under test here
    return report.select("stage", F.col("n").cast("bigint").alias("n"))


@register(
    "text_paragraph_dedup",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || chr(10) || chr(10)
                  || 'standard license paragraph' || chr(10)
                  || 'reproduced verbatim across documents'
                  || CASE WHEN doc_id % 4 = 0
                          THEN chr(10) || chr(10) || 'quarterly insert block'
                          ELSE '' END
                  || CASE WHEN doc_id % 5 <> 0
                          THEN chr(10) || chr(10)
                               || 'closing paragraph unique to ' || doc_id
                               || chr(10) || 'with a second line'
                          ELSE '' END
               AS text
      FROM documents
    ), s AS (
      SELECT doc_id, string_split_regex(text, chr(10) || '{2,}') AS paras
      FROM aug
    ), l AS (
      SELECT doc_id, generate_subscripts(paras, 1) AS pos,
             trim(paras[generate_subscripts(paras, 1)]) AS para
      FROM s
    ), le AS (
      SELECT doc_id, pos, para FROM l WHERE para <> ''
    ), stats AS (
      SELECT para, COUNT(DISTINCT doc_id) AS n_docs FROM le GROUP BY para
    ), j AS (
      SELECT le.doc_id, le.pos, le.para, st.n_docs
      FROM le JOIN stats st USING (para)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE n_docs <= 1) AS INT) AS n_lines_kept,
           COALESCE(string_agg(para, chr(10) || chr(10) ORDER BY pos)
                      FILTER (WHERE n_docs <= 1), '') AS clean_text
    FROM j GROUP BY doc_id
    """,
)
def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-level cross-document dedup (Dolma-style;
    operators.text.line_dedup_corpus with sep_pattern='\\n{2,}'):
    blank-line-separated units dedup as wholes — internal single
    newlines stay inside the unit, so the planted two-line license
    block drops as ONE paragraph everywhere while the two-line closing
    paragraph (unique id inside, planted on 4-of-5 docs) survives
    intact and n_lines_kept varies 1..2. Every fourth
    doc also carries a hot one-line insert block, varying n_lines 3..4
    and exercising multi-paragraph reassembly with the '\\n\\n'
    join."""
    from erpl_web_spark.operators.text import line_dedup_corpus

    docs = load(spark, sf_dir, "documents", spread=True).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(
                "\n\nstandard license paragraph"
                "\nreproduced verbatim across documents"
            ),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit("\n\nquarterly insert block"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 != 0,
                F.concat(
                    F.lit("\n\nclosing paragraph unique to "),
                    F.col("doc_id").cast("string"),
                    F.lit("\nwith a second line"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return line_dedup_corpus(
        docs, max_docs=1, sep_pattern="\n{2,}", join_sep="\n\n"
    ).select("doc_id", "n_lines", "n_lines_kept", "clean_text")


@register(
    "text_line_dedup_keepfirst",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || chr(10) || 'all rights reserved global footer'
                  || chr(10) || 'shared navigation for ' || source
                  || CASE WHEN doc_id % 3 = 0
                          THEN chr(10) || 'promo banner seen on every third page'
                          ELSE '' END
               AS text
      FROM documents
    ), s AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines FROM aug
    ), l AS (
      SELECT doc_id, generate_subscripts(lines, 1) AS pos,
             trim(lines[generate_subscripts(lines, 1)]) AS line
      FROM s
    ), le AS (
      SELECT doc_id, pos, line FROM l WHERE line <> ''
    ), stats AS (
      SELECT line, COUNT(DISTINCT doc_id) AS n_docs,
             MIN(ROW(doc_id, pos)) AS winner
      FROM le GROUP BY line
    ), j AS (
      SELECT le.doc_id, le.pos, le.line, st.n_docs,
             st.winner = ROW(le.doc_id, le.pos) AS is_winner
      FROM le JOIN stats st USING (line)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE n_docs <= 1 OR is_winner) AS INT)
             AS n_lines_kept,
           COALESCE(string_agg(line, chr(10) ORDER BY pos)
                      FILTER (WHERE n_docs <= 1 OR is_winner), '')
             AS clean_text
    FROM j GROUP BY doc_id
    """,
)
def text_line_dedup_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's exact keep-one policy for cross-document line dedup
    (operators.text.line_dedup_corpus keep_first=True): a hot line's
    single globally-first occurrence — min (id, pos) — survives; every
    other copy drops. The oracle replays the winner election with
    MIN(ROW(doc_id, pos)) so the 1-pos-0 tie-breaks are value-checked,
    not just unit-tested. Plants only the footer (winner: the minimum
    doc_id, where it sits at pos 1) and the per-source nav line (one
    winner per source), so exactly max(1, n_sources+1) planted lines
    survive corpus-wide and every other doc drops both."""
    from erpl_web_spark.operators.text import line_dedup_corpus

    docs = load(spark, sf_dir, "documents", spread=True).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit("\nall rights reserved global footer"),
            F.lit("\nshared navigation for "),
            F.col("source"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\npromo banner seen on every third page"),
            ).otherwise(F.lit("")),
        ),
    )
    return line_dedup_corpus(docs, max_docs=1, keep_first=True).select(
        "doc_id", "n_lines", "n_lines_kept", "clean_text"
    )


@register(
    "text_normalize",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
               THEN ' ' || chr(8220) || 'styled' || chr(8221) || ' '
                    || chr(8212) || ' quote' || chr(8217) || 's'
                    || chr(1) || '  and' || chr(160) || 'nbsp  tail'
               ELSE '' END AS text
      FROM documents
    ), n AS (
      SELECT doc_id, text, {_SQL_NORMALIZE_EXPR} AS norm_text
      FROM aug
    )
    SELECT doc_id, norm_text, norm_text <> text AS changed FROM n
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable text normalization
    (operators.text.normalize_text): curly quotes/dashes/NBSP to ASCII
    via 1:1 codepoint translate, C0-control strip (tab/newline/CR
    kept), horizontal-whitespace collapse, trim — the pre-hash cleanup
    that makes typographic variants collide in dedup. Pure map, zero
    shuffle. Every third doc gets a planted messy tail (curly quotes,
    em-dash, \\x01 control byte, NBSP, double spaces) so ``changed``
    and the rewrite paths are all non-vacuous; the other docs prove
    the identity path (changed = false, byte-identical text)."""
    from erpl_web_spark.operators.text import normalize_text

    docs = load(spark, sf_dir, "documents", spread=True).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit(
                    " “styled” — quote’s"
                    "\x01  and\u00a0nbsp  tail"
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return normalize_text(docs).select("doc_id", "norm_text", "changed")


_SQL_LINE_DEDUP = """
    WITH aug AS (
      SELECT doc_id,
             text || chr(10) || 'all rights reserved global footer'
                  || chr(10) || 'shared navigation for ' || source
                  || CASE WHEN doc_id % 3 = 0
                          THEN chr(10) || 'promo banner seen on every third page'
                          ELSE '' END
                  || CASE WHEN doc_id % 5 <> 0
                          THEN chr(10) || 'unique closing line for document ' || doc_id
                          ELSE '' END
               AS text
      FROM documents
    ), s AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines FROM aug
    ), l AS (
      SELECT doc_id, generate_subscripts(lines, 1) AS pos,
             trim(lines[generate_subscripts(lines, 1)]) AS line
      FROM s
    ), le AS (
      SELECT doc_id, pos, line FROM l WHERE line <> ''
    ), stats AS (
      SELECT line, COUNT(DISTINCT doc_id) AS n_docs FROM le GROUP BY line
    ), j AS (
      SELECT le.doc_id, le.pos, le.line, st.n_docs
      FROM le JOIN stats st USING (line)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE n_docs <= 1) AS INT) AS n_lines_kept,
           COALESCE(string_agg(line, chr(10) ORDER BY pos)
                      FILTER (WHERE n_docs <= 1), '') AS clean_text
    FROM j GROUP BY doc_id
    """


@register("text_line_dedup", oracle=_SQL_LINE_DEDUP)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document line dedup (C4 §2.2 / RefinedWeb:
    operators.text.line_dedup_corpus): any trimmed line present in >1
    distinct documents is corpus boilerplate and drops from every
    document. Document-frequency counts group on md5 digests (32-byte
    shuffle keys, two-level partial-aggregable so Zipf-hot boilerplate
    combines map-side); the hot set broadcasts back, so line bodies
    shuffle only once (reassembly by doc). The raw corpus is
    single-line-unique, so every doc gets a planted 4-part tail: a
    global footer (hot everywhere), a per-source nav line (hot within
    source), a promo line on every third doc (hot), and a unique
    closing line on 4-of-5 docs (never hot) — n_lines 3..5 and
    n_lines_kept 1..2 both vary."""
    from erpl_web_spark.operators.text import line_dedup_corpus

    docs = load(spark, sf_dir, "documents", spread=True).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit("\nall rights reserved global footer"),
            F.lit("\nshared navigation for "),
            F.col("source"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\npromo banner seen on every third page"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 != 0,
                F.concat(
                    F.lit("\nunique closing line for document "),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return line_dedup_corpus(docs, max_docs=1).select(
        "doc_id", "n_lines", "n_lines_kept", "clean_text"
    )


@register("text_line_dedup_salted", oracle=_SQL_LINE_DEDUP)
def text_line_dedup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME cross-document line dedup through the salted membership
    join (``salt=8``): the hot footer digest fans over 8 reducers via
    ``relational.salted_join`` while the rows stay value-hash identical
    — the same oracle SQL checks both plans, so the skew mitigation's
    correctness gets its own driver row (the ``text_unigram_freq_salted``
    pattern). Production path when one boilerplate line floods the
    corpus: AQE's skew split is measured NOT to engage in this
    join-under-rollup shape (SCALING.md round 8)."""
    from erpl_web_spark.operators.text import line_dedup_corpus

    docs = load(spark, sf_dir, "documents", spread=True).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit("\nall rights reserved global footer"),
            F.lit("\nshared navigation for "),
            F.col("source"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\npromo banner seen on every third page"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 != 0,
                F.concat(
                    F.lit("\nunique closing line for document "),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return line_dedup_corpus(docs, max_docs=1, salt=8).select(
        "doc_id", "n_lines", "n_lines_kept", "clean_text"
    )


@register(
    "similarity_recall_at_k",
    oracle=_SQL_IVF_ASSIGNED
    + """
    , probe_cells AS (
      SELECT vec_id AS probe_id, emb AS probe_vec, cell FROM (
        SELECT vec_id, emb, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS crank
        FROM cscored WHERE vec_id < 100
      ) WHERE crank <= 2
    ), ann AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT p.probe_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
                 list_dot_product(p.probe_vec, a.emb)
                   / (sqrt(list_dot_product(p.probe_vec, p.probe_vec)) * sqrt(list_dot_product(a.emb, a.emb))) DESC,
                 a.vec_id) AS rank
        FROM probe_cells p JOIN assigned a USING (cell)
        WHERE p.probe_id <> a.vec_id
      ) WHERE rank <= 3
    ), exact AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
                 list_dot_product(p.emb, c.emb)
                   / (sqrt(list_dot_product(p.emb, p.emb)) * sqrt(list_dot_product(c.emb, c.emb))) DESC,
                 c.vec_id) AS rank
        FROM v p JOIN v c ON p.vec_id < 100 AND p.vec_id <> c.vec_id
      ) WHERE rank <= 3
    )
    SELECT e.probe_id,
           CAST(COUNT(a.neighbor_id) AS INT) AS n_hits,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / 3 AS recall
    FROM exact e LEFT JOIN ann a
      ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.probe_id
    """,
)
def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe recall@3 of the IVF ANN path against the exact top-3 —
    the ANN quality metric AS a query, so index-quality monitoring runs
    inside the engine instead of an offline script (tools/recall_bench
    characterizes banding offline; this audits the deployed quantizer on
    live data). Composes two independently-oracle-checked formulations
    (similarity_ann_ivf, similarity_cosine_top3) with one small join on
    (probe, neighbor)."""
    from erpl_web_spark.operators.similarity import ann_top_k_ivf, cosine_top_k

    emb = load(spark, sf_dir, "embeddings", spread=True)
    probes = emb.where(F.col("vec_id") < 100)
    ann = ann_top_k_ivf(
        emb, probes, "vec_id", "embedding", k=3, stride=50, nprobe=2
    ).select("probe_id", "neighbor_id")
    exact = cosine_top_k(emb, probes, "vec_id", "embedding", k=3).select(
        "probe_id", "neighbor_id"
    )
    joined = exact.join(
        ann.withColumnRenamed("neighbor_id", "__ann_n"),
        (exact["probe_id"] == ann["probe_id"])
        & (exact["neighbor_id"] == F.col("__ann_n")),
        "left",
    ).select(exact["probe_id"], F.col("__ann_n"))
    return joined.groupBy("probe_id").agg(
        F.count("__ann_n").cast("int").alias("n_hits"),
        (F.count("__ann_n").cast("double") / 3).alias("recall"),
    )


@register(
    "text_bigram_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ), bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)
    ), counts AS (
      SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY w1, w2
    )
    SELECT w1, w2, n, CAST(rank AS INT) AS rank FROM (
      SELECT w1, w2, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, w1, w2) AS rank
      FROM counts
    ) WHERE rank <= 20
    """,
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency top-20 — the adjacency table n-gram
    language models and collocation detection build on (the token-level
    sibling of text_bpe_pairs' character statistics). Docs with fewer
    than two tokens are filtered BEFORE the index expansion
    (sequence(1, size-1) counts DOWN at size 1 — the recurring
    descending-sequence hazard). One explode + one partial-aggregated
    groupBy; top-20 with full tiebreaks."""
    docs = load(spark, sf_dir, "documents", spread=True)
    from erpl_web_spark.operators.text import tokens_expr

    toks = docs.select(tokens_expr("text").alias("t")).where(F.size("t") >= 2)
    bg = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.get("t", i - 1).alias("w1"), F.get("t", i).alias("w2")
                ),
            )
        ).alias("p")
    )
    counts = bg.groupBy("p.w1", "p.w2").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("w1", "w2", "n", F.col("rank").cast("int").alias("rank"))
    )

"""Text-analysis operators for training-data pipelines.

All column expressions are pyspark.sql.functions built-ins (JVM-side,
whole-stage-codegen) — no Python UDFs in the hot path. Designed to run
over a 100 TB ``documents`` table: every function is a narrow map (no
shuffle), so throughput is scan-bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately small + deterministic (the point is the Spark
# plumbing, not linguistic accuracy).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "pour", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "por", "para"],
}

# BPE-ish tokenizer regex: word pieces, numbers, single punctuation marks.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def tokens_expr(text: Column | str) -> Column:
    """Whitespace tokens of lowercased text (empty strings removed)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), "\\s+"), lambda t: t != "")


def token_count_expr(text: Column | str) -> Column:
    return F.size(tokens_expr(text))


def bpe_token_count_expr(text: Column | str) -> Column:
    """Token count under a BPE-ish regex (letters / digits / punct marks)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), F.lit(0)))


def _in_list(t: Column, words: list[str]) -> Column:
    # Column.isin isn't usable on higher-order-function lambda variables;
    # array_contains over a literal array compiles to the same JVM predicate.
    return F.array_contains(F.array(*[F.lit(w) for w in words]), t)


def stopword_count_expr(text: Column | str, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens_expr(text), lambda t: _in_list(t, words)))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append length / token / punctuation / digit statistics columns."""
    c = F.col(text_col)
    n_chars = F.length(c)
    return (
        df.withColumn("stat_chars", n_chars)
        .withColumn("stat_tokens", token_count_expr(c))
        .withColumn("stat_bpe_tokens", bpe_token_count_expr(c))
        .withColumn(
            "stat_punct_ratio",
            F.length(F.regexp_replace(c, "[^.,;:!?'\"()\\[\\]-]", ""))
            / F.greatest(n_chars, F.lit(1)),
        )
        .withColumn(
            "stat_digit_ratio",
            F.length(F.regexp_replace(c, "[^0-9]", "")) / F.greatest(n_chars, F.lit(1)),
        )
        .withColumn(
            "stat_avg_token_len",
            F.aggregate(tokens_expr(c), F.lit(0).cast("double"), lambda acc, t: acc + F.length(t))
            / F.greatest(token_count_expr(c), F.lit(1)),
        )
    )


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language heuristic → ``pred_lang`` column.

    Counts per-language stopword hits over whitespace tokens and takes the
    argmax (ties broken by fixed language order; 'und' = undetermined when
    no stopwords hit). Pure map — no shuffle.
    """
    toks = tokens_expr(F.col(text_col))

    def counter(words: list[str]):
        # A plain 1-arg lambda: a default-arg lambda has arity 2 and PySpark
        # would treat it as an (element, index) function.
        return F.size(F.filter(toks, lambda t: _in_list(t, words)))

    counts = {lang: counter(words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*counts.values())
    pred = F.lit("und")
    # Reverse order so earlier languages win ties (en > de > fr > es).
    for lang in reversed(list(STOPWORDS)):
        pred = F.when(counts[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return df.withColumn("pred_lang", pred)


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality score in [0, 1] + keep/drop flag.

    Components (equal weight): token count in a sane band, mean token
    length in a sane band, low punctuation ratio, low digit ratio.
    Mirrors the usual pretraining-corpus quality filters.
    """
    d = with_text_stats(df, text_col)
    tok_ok = (F.col("stat_tokens") >= 5) & (F.col("stat_tokens") <= 100000)
    len_ok = (F.col("stat_avg_token_len") >= 2.0) & (F.col("stat_avg_token_len") <= 12.0)
    punct_ok = F.col("stat_punct_ratio") <= 0.2
    digit_ok = F.col("stat_digit_ratio") <= 0.3
    score = (
        tok_ok.cast("int") + len_ok.cast("int") + punct_ok.cast("int") + digit_ok.cast("int")
    ) / F.lit(4.0)
    return d.withColumn("quality_score", score).withColumn("quality_keep", score >= 0.75)


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    seed: int = 42,
    out: str = "split",
    method: str = "xxhash64",
) -> DataFrame:
    """Deterministic train/val/test assignment by id hash.

    Each row lands in exactly one split based on a hash bucket
    ``h(seed, id) % 10_000`` against cumulative weight boundaries —
    stable across runs, cluster sizes, and re-partitioning (the property
    random splits lack), and adding rows never reassigns existing ones.
    Weights are normalized; order of dict insertion fixes boundary order.

    ``method='xxhash64'`` (default) is the fast JVM-codegen path;
    ``method='md5'`` derives the bucket from the first 8 hex chars of
    ``md5(f"{seed}:{id}")`` — slower, but reproducible in any engine
    with md5 (the cross-engine-verifiable contract).
    """
    total = sum(weights.values())
    if method == "md5":
        digest = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
        bucket = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % 10_000
    else:
        bucket = F.pmod(F.xxhash64(F.lit(seed), F.col(id_col)), F.lit(10_000))
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total * 10_000
        cond = bucket < F.lit(int(round(acc)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out, expr)


PII_PATTERNS = {
    # order matters: specific shapes first, broad digit runs LAST so the
    # phone pattern can't swallow SSN-shaped or dotted-IP sequences
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn_like": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\+?\d[\d\s()-]{7,}\d",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out: str = "redacted",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Regex PII redaction: each matched span is replaced by ``[<KIND>]``.

    JVM-side regexp_replace chain — no Python in the hot path; at 100 TB
    this is a map-only stage with zero shuffle. Patterns are applied in
    dict order (emails before phone-like digit runs, so a match is
    claimed by the most specific pattern first); pass custom patterns to
    extend. Adds ``{out}`` plus ``{out}_n_hits`` (count of redactions).
    """
    pats = patterns or PII_PATTERNS
    # Hits counted per pattern on the PRE-replacement intermediate
    # (regexp_extract_all on the text that pattern actually saw), not
    # by counting [KIND] markers in the output — input that already
    # contains a literal '[EMAIL]' is not miscounted as a redaction.
    red = F.col(text_col)
    hits = F.lit(0)
    for kind, pat in pats.items():
        hits = hits + F.size(F.regexp_extract_all(red, F.lit(pat), F.lit(0)))
        red = F.regexp_replace(red, pat, f"[{kind.upper()}]")
    return df.withColumn(out, red).withColumn(f"{out}_n_hits", hits.cast("int"))


def with_repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Repetition-based quality signals (the Gopher-rules family):
    ``rep_top_word_ratio`` (most frequent token's share of all tokens) and
    ``rep_distinct_token_ratio`` (vocabulary richness). High top-word
    share / low distinct share flags boilerplate and degenerate text.

    One shuffle on (id, token-hash); per-doc aggregation is
    map-side-combinable. Documents with zero tokens (empty/whitespace
    text) produce no output row — left-join back to the source if a row
    per document is required.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok"))
    per_tok = toks.groupBy(id_col, "tok").agg(F.count("*").alias("n"))
    return per_tok.groupBy(id_col).agg(
        (F.max("n") / F.sum("n")).alias("rep_top_word_ratio"),
        (F.count("*") / F.sum("n")).alias("rep_distinct_token_ratio"),
    )


def with_token_diversity(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gini–Simpson token diversity per document:
    ``1 - Σ n_t² / N²`` (probability two random tokens differ).

    The quality complement to with_repetition_stats: boilerplate and
    degenerate repetition drive it toward 0, diverse prose toward 1.
    Chosen over Shannon entropy deliberately — it is a ratio of EXACT
    integer sums (Σn², N²), so it is deterministic across engines and
    cluster sizes, while entropy's transcendental log differs by ulps
    between libm implementations. One shuffle on (id, token);
    map-side-combinable aggregation.
    Returns (id, n_tokens, n_distinct, simpson_diversity).
    """
    toks = df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok"))
    per_tok = toks.groupBy(id_col, "tok").agg(F.count("*").alias("n"))
    return per_tok.groupBy(id_col).agg(
        F.sum("n").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        (
            F.lit(1.0)
            - F.sum(F.col("n") * F.col("n")).cast("double")
            / (F.sum("n") * F.sum("n")).cast("double")
        ).alias("simpson_diversity"),
    )


def pack_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    budget: int = 2048,
    text_col: str = "text",
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in deterministic
    order and cut at fixed token-budget boundaries. Each document gets the
    pack (training sequence) it starts in and its token offset there.

    Packing is per ``group_col`` (shard/source): the running token total
    is a window cumsum partitioned by group, so groups pack in parallel
    and order within a group is the deterministic ``id_col`` sort — the
    distributed version of the single-writer concat loop. At 100 TB the
    group is the unit of parallelism (pick shards ~executor-sized);
    no driver materialization anywhere.

    Output: id, group, n_tokens, pack_id (0-based within group),
    pack_offset (token position inside the pack).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tokens = token_count_expr(F.col(text_col))
    return (
        df.select(F.col(id_col), F.col(group_col), n_tokens.alias("n_tokens"))
        .withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            id_col,
            group_col,
            "n_tokens",
            (F.col("cum_before") / budget).cast("long").alias("pack_id"),
            (F.col("cum_before") % budget).alias("pack_offset"),
        )
    )


def pack_documents_nextfit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_shards: int = 8,
) -> DataFrame:
    """WHOLE-document next-fit packing: documents are never split
    (:func:`pack_documents` is the concat-and-cut complement) — the
    standard SFT/instruction-tuning shape, where a training sequence
    holds complete documents and a new bin opens when the next one
    would overflow the token budget.

    Next-fit is inherently a stateful scan (bin boundaries depend on
    every prior placement), which no window cumsum can express — the
    legitimate ``applyInPandas`` case: documents are sharded by an
    engine-portable md5 bucket of the id, each shard packs
    independently in one Arrow-batched O(n) pass over (id, n_tokens)
    rows sorted by id, and only those skinny rows shuffle — text never
    enters the exchange. At 100 TB the shard is the unit of
    parallelism AND the memory bound (a shard's id/count rows must fit
    one executor): pick ``n_shards`` ~ a few × cluster cores; the
    per-shard sequential pass is the semantics, not an accident.

    A document larger than ``budget`` occupies a bin alone (its fill
    exceeds the budget — callers chunk oversized docs first if that is
    not acceptable); empty documents (0 tokens) always fit the current
    bin. Output: (shard, id, n_tokens, bin_id 0-based within shard,
    bin_fill_after = the bin's token total including this doc).
    """
    import pandas as pd

    from erpl_web_spark.operators.dedup import _md5_long48

    base = df.select(
        F.pmod(_md5_long48(F.col(id_col)), F.lit(n_shards)).alias("shard"),
        F.col(id_col),
        # NULL text counts 0 tokens (size(NULL) is NULL, which would
        # reach the pandas loop as NaN and crash int()) — a null doc
        # packs like an empty one
        F.coalesce(token_count_expr(F.col(text_col)).cast("long"), F.lit(0)).alias(
            "n_tokens"
        ),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins, fills = [], []
        bin_id, fill, first = 0, 0, True
        for t in pdf["n_tokens"]:
            t = int(t)
            if not first and fill + t > budget:
                bin_id += 1
                fill = 0
            fill += t
            first = False
            bins.append(bin_id)
            fills.append(fill)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        pdf["bin_fill_after"] = pd.Series(fills, dtype="int64")
        return pdf

    # the id field keeps the input's own type (string/UUID doc ids are
    # common for web corpora and the md5 shard bucket supports them) —
    # hardcoding bigint here would crash every non-numeric id at runtime
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"shard bigint, {id_col} {id_type}, n_tokens bigint, "
        "bin_id bigint, bin_fill_after bigint"
    )
    return base.groupBy("shard").applyInPandas(pack, schema)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Fixed-size token-window chunking with overlap — the splitting
    complement to :func:`pack_documents` (packing concatenates short
    documents up to a budget; chunking cuts long documents down to it —
    RAG/context-window prep). Chunk ``i`` covers tokens
    ``[i*stride, i*stride + chunk_tokens)`` in normalized token space,
    ``stride = chunk_tokens - overlap``; windows start while
    ``i*stride < max(n_tokens - overlap, 1)`` — the upper bound stops
    BEFORE a start whose entire window would sit inside the previous
    chunk (a start in the final overlap region adds no new tokens and
    would emit a pure-duplicate suffix chunk), so the final chunk may
    be short and every token appears in at least one chunk with no
    fully-redundant chunks. Empty documents yield no rows.

    Returns (id, chunk_id, start_tok, n_chunk_tokens, chunk_text).

    ENTIRELY map-side: tokens, chunk starts (a JVM ``sequence`` over
    chunk indices — guarded by ``n_tokens >= 1``, the
    descending-sequence hazard) and the slice per chunk are array
    expressions; the only explode is one row per chunk. No shuffle —
    at 100 TB this is a pure scan transform whose output partitioning
    follows the input's.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = df.select(F.col(id_col), tokens_expr(text_col).alias("t")).where(
        F.size("t") >= 1
    )
    n_chunks = (
        F.floor((F.greatest(F.size("t") - overlap, F.lit(1)) - 1) / stride) + 1
    )
    return (
        toks.select(
            F.col(id_col),
            F.col("t"),
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
                "chunk_id"
            ),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("int").alias("chunk_id"),
            (F.col("chunk_id") * stride).cast("int").alias("start_tok"),
            F.slice(F.col("t"), F.col("chunk_id") * stride + 1, chunk_tokens).alias(
                "__c"
            ),
        )
        .select(
            id_col,
            "chunk_id",
            "start_tok",
            F.size("__c").alias("n_chunk_tokens"),
            F.concat_ws(" ", "__c").alias("chunk_text"),
        )
    )


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Word k-grams occurring in >= ``min_docs`` distinct documents —
    the C4/RefinedWeb-style repeated-ngram boilerplate signal (headers,
    footers, templates repeat verbatim across a crawl; organic text
    almost never repeats a 5-gram).

    Returns (gram, n_docs). Per-doc shingles are deduplicated before
    the count, so n_docs is a true document frequency. The groupBy
    shuffles gram strings directly for oracle comparability; at corpus
    scale, group on xxhash64(gram) and keep ``min(gram)`` as the
    exemplar so the shuffle carries 8-byte keys.
    """
    from erpl_web_spark.operators.dedup import grams_expr

    ex = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(grams_expr(F.col(text_col), k))).alias("gram"),
    )
    return (
        ex.groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def with_boilerplate_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Per-document boilerplate contamination: the fraction of the
    doc's distinct k-grams that are corpus-level boilerplate
    (document frequency >= ``min_docs``).

    The doc-frequency side is a groupBy + join (NOT a gram-partitioned
    window): boilerplate grams are hyper-frequent by definition, and a
    window would pin each hot gram's rows to one partition with no
    mitigation — AQE's skew handling splits skewed *join* partitions,
    so the join formulation is the one that survives a boilerplate-heavy
    crawl. One gram-keyed aggregate (map-side combined), one skew-safe
    join, one doc-keyed roll-up.
    Returns (id, n_grams, n_boiler, boiler_ratio).
    """
    from erpl_web_spark.operators.dedup import grams_expr

    ex = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(grams_expr(F.col(text_col), k))).alias("gram"),
    )
    boiler = (
        ex.groupBy("gram")
        .agg(F.count("*").alias("df_count"))
        .where(F.col("df_count") >= min_docs)
        .select("gram")
    )
    tagged = ex.join(
        boiler.withColumn("is_boiler", F.lit(1)), "gram", "left"
    )
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)).cast("bigint")).alias(
                "n_boiler"
            ),
        )
        .withColumn(
            "boiler_ratio",
            F.col("n_boiler").cast("double") / F.col("n_grams").cast("double"),
        )
    )


def with_unigram_freq_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: int | None = None,
) -> DataFrame:
    """Corpus-frequency document scoring — the CCNet-style quality
    signal with the LM replaced by the corpus's own unigram counts so
    every number is an exact integer and the result is value-hash
    oracle-checkable (log-probabilities differ in the last ulp across
    libm implementations; integer frequency sums cannot).

    Per document: ``sum_freq`` = Σ over token OCCURRENCES of that
    token's corpus-wide occurrence count (exact BIGINT), and
    ``avg_unigram_freq`` = sum_freq / (n_toks * corpus_total) — the mean
    relative frequency of the document's tokens, computed as ONE double
    division of exact integers. Rare-token-heavy documents (OCR noise,
    codes, non-language) score low; boilerplate scores high — useful as
    both a quality floor and a repetition ceiling.

    Shuffle posture at 100 TB: tokens explode map-side; the count
    aggregation is map-side combined on (token); the count join back to
    occurrences is token-keyed, where hyper-frequent tokens are the
    natural heavy hitters (the Zipf head: "the" is ~7% of all English
    occurrences); the final roll-up shuffles (doc_id, long) pairs only.
    The corpus total rides a 1-row cross join (broadcast), not a
    driver collect.

    ``salt`` fans each token's occurrences over ``salt`` reducers via
    ``relational.salted_join`` (identical rows, one extra broadcast of
    the replicated count table). Measured (tools/skew_bench.py --zipf,
    SCALING.md round 8): AQE's skew-join split does NOT engage in this
    plan shape — the per-doc roll-up directly above the join blocks
    ``OptimizeSkewedJoin``, and the skinny (tok, id) hot partition
    compresses below the byte-based trigger anyway — so explicit
    salting is the ONLY mitigation when one token dominates; default
    ``None`` keeps the plain oracle-checked plan.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("tok_n"))
    total = counts.agg(F.sum("tok_n").cast("bigint").alias("corpus_total"))
    if salt:
        from erpl_web_spark.operators.relational import salted_join

        joined = salted_join(toks, counts, "tok", salt=salt)
    else:
        joined = toks.join(counts, "tok")
    per_doc = (
        joined
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.sum("tok_n").cast("bigint").alias("sum_freq"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        id_col,
        "n_toks",
        "sum_freq",
        (
            F.col("sum_freq").cast("double")
            / (F.col("n_toks") * F.col("corpus_total")).cast("double")
        ).alias("avg_unigram_freq"),
    )


# --------------------------------------------------------------------------
# Distributed BPE tokenizer training (Sennrich et al., ACL 2016)
# --------------------------------------------------------------------------

EOW = "</w>"  # end-of-word marker appended to every symbol sequence

# Merge-application folds chain one Catalyst expression per merge;
# materialize (localCheckpoint) every this-many merges so expression
# depth and per-plan analysis cost stay bounded regardless of vocab
# size. 64 nested folds analyze in well under a second.
_CHECKPOINT_EVERY = 64


def word_freq(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (word, n) frequency dictionary — the compression step
    every scalable tokenizer trainer starts with: BPE statistics only
    depend on the word histogram, and the distinct-word dictionary is
    orders of magnitude smaller than the corpus (~sqrt growth by Heaps'
    law), so all subsequent merge rounds run on the dictionary."""
    return (
        df.select(F.explode(tokens_expr(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _word_symbols(word: Column) -> Column:
    """Initial BPE symbol sequence: characters plus the ``</w>`` marker
    (so merges can learn word-final units like 'ing</w>')."""
    return F.concat(F.split(word, ""), F.array(F.lit(EOW)))


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping application of one merge:
    fold over the symbols, joining the current symbol onto the
    accumulator's tail when (tail, current) == (left, right). Pure JVM
    higher-order function — no Python touches a row.

    The fold rebuilds the accumulator array per element (O(len²) per
    word), so it is guarded by a cheap O(len) containment pre-check
    (r15): a word missing either symbol cannot contain the adjacent
    pair, and the fold is the identity on it — most dictionary words
    skip the quadratic path entirely as the vocabulary grows. Value-
    identical by construction (the fold without a (left, right)
    adjacency is already the identity).

    The guard references the symbol array FOUR times, so the input is
    bound ONCE through a single-element ``transform`` lambda: chained
    merges (bpe_train applies one per round) then grow the expression
    tree linearly — substituting ``syms`` into four references per
    round would grow it 4^rounds and hang the optimizer (measured:
    12 chained rounds never finished planning)."""
    merged = F.lit(left + right)

    def _guarded(s: Column) -> Column:
        folded = F.aggregate(
            s,
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (x == F.lit(right)),
                F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        return F.when(
            F.array_contains(s, F.lit(left))
            & F.array_contains(s, F.lit(right)),
            folded,
        ).otherwise(s)

    return F.element_at(F.transform(F.array(syms), _guarded), 1)


def bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Weighted adjacent-symbol pair counts over a (n, syms) dictionary:
    (left_sym, right_sym, pair_count). One explode + one groupBy on the
    pair key; the shuffle carries (symbol-pair, long) rows only.

    Fully-merged single-symbol words are filtered BEFORE the index
    expansion: ``sequence(1, size-1)`` counts DOWN for size == 1 (the
    [1, 0] descending-sequence hazard), which would fabricate null
    pairs."""
    pairs = words.where(F.size("syms") >= 2).select(
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.get("syms", i - 1).alias("left_sym"),
                    F.get("syms", i).alias("right_sym"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.left_sym", "p.right_sym").agg(
        F.sum("n").alias("pair_count")
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    min_pair_count: int = 2,
) -> DataFrame:
    """Learn a BPE merge table from a document corpus (the byte-pair-
    encoding trainer of Sennrich et al. 2016, restructured for Spark).

    Each round: count adjacent symbol pairs over the word-frequency
    dictionary (one shuffle of (pair, count) rows), pick the most
    frequent pair (ties break lexicographically, so training is fully
    deterministic), and apply the merge to every word's symbol sequence
    with a JVM fold. The driver holds only the merge table itself —
    which IS the trainer's output and is vocabulary-bounded ((num_merges
    rows) — never the dictionary.

    Scale shape: the corpus is touched ONCE (word_freq); every round is
    O(dictionary) map work + a pair-count shuffle whose key space is the
    symbol-pair vocabulary. The dictionary is ``localCheckpoint``-ed
    every ``_CHECKPOINT_EVERY`` (64) rounds, so plan depth is bounded at
    64 merge folds and a round recomputes at most 63 uncheckpointed
    folds — the tradeoff vs per-round checkpointing is far fewer pinned
    dictionary copies in block storage (measured flat round cost to 128
    merges, SCALING.md). Stops early when no pair reaches
    ``min_pair_count``.

    Returns (merge_rank, left_sym, right_sym, pair_count) — merge ranks
    are 1-based in learning order, the contract ``bpe_encode`` consumes.
    """
    spark = df.sparkSession
    words = (
        word_freq(df, text_col)
        .select("n", _word_symbols(F.col("word")).alias("syms"))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    # AQE is disabled around each round's top-1 action (restored after
    # the loop): the round aggregate is one exchange whose key space is
    # the symbol-pair VOCABULARY (never corpus-sized) feeding a driver-
    # sized TakeOrderedAndProject — AQE's per-exchange stage
    # materialization doubles the round's job count (measured: 2 jobs/
    # round -> 1) and can re-plan nothing useful on a vocabulary-bounded
    # shuffle. Conf is runtime-mutable and scoped to the collects below.
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_before = spark.conf.get(aqe_key, "true")
    spark.conf.set(aqe_key, "false")
    try:
        for rank in range(1, num_merges + 1):
            top = (
                bpe_pair_counts(words)
                .orderBy(
                    F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")
                )
                .limit(1)
                .collect()
            )
            if not top or top[0]["pair_count"] < min_pair_count:
                break
            left, right, cnt = (
                top[0]["left_sym"],
                top[0]["right_sym"],
                int(top[0]["pair_count"]),
            )
            merges.append((rank, left, right, cnt))
            words = words.select(
                "n", _apply_merge(F.col("syms"), left, right).alias("syms")
            )
            # checkpoint every few rounds, not every round: bounded-depth
            # lineage between checkpoints, and far fewer pinned dictionary
            # copies in block storage. Dereferenced checkpoints are
            # reclaimed asynchronously by Spark's ContextCleaner as the
            # Python references drop; at very large vocab sizes also lower
            # spark.cleaner.periodicGC.interval so reclamation keeps pace.
            if rank % _CHECKPOINT_EVERY == 0:
                words = words.localCheckpoint(eager=True)
    finally:
        spark.conf.set(aqe_key, aqe_before)
    from erpl_web_spark.core.localframe import local_rows

    return local_rows(
        spark, merges, "merge_rank int, left_sym string, right_sym string, pair_count long"
    )


def bpe_encode(
    df: DataFrame,
    merges: DataFrame | list[tuple],
    text_col: str = "text",
    out: str = "bpe_syms",
) -> DataFrame:
    """Encode documents with a learned merge table: tokenize, expand each
    token to its character+``</w>`` sequence, then apply every merge in
    rank order as a chained JVM fold; ``out`` is the flattened per-
    document symbol array.

    The merge table is collected to the driver and inlined as literals —
    it is the tokenizer's vocabulary (configuration-scale: tens of
    thousands of rows at a real 32k-merge vocab), not data. Encoding is
    map-only — no shuffle, no Python — but a production-size merge
    table would nest tens of thousands of fold expressions into ONE
    Catalyst tree, so the chain is materialized (localCheckpoint) every
    ``_CHECKPOINT_EVERY`` merges: expression depth per plan stays
    bounded, total work is still one pass per batch over the
    (doc_id, syms) projection."""
    if isinstance(merges, DataFrame):
        rows = merges.orderBy("merge_rank").collect()
        pairs = [(r["left_sym"], r["right_sym"]) for r in rows]
    else:
        pairs = [(left, right) for _, left, right, *_ in merges]
    syms = F.transform(tokens_expr(text_col), lambda w: _word_symbols(w))
    work = df.withColumn(out, syms)
    for i in range(0, len(pairs), _CHECKPOINT_EVERY):
        encoded = F.col(out)
        for left, right in pairs[i : i + _CHECKPOINT_EVERY]:
            encoded = F.transform(
                encoded, lambda s: _apply_merge(s, left, right)
            )
        work = work.withColumn(out, encoded)
        if i + _CHECKPOINT_EVERY < len(pairs):
            work = work.localCheckpoint(eager=False)
    return work.withColumn(out, F.flatten(F.col(out)))


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_df: int = 1,
) -> DataFrame:
    """Top-``k`` most distinctive terms per document by tf·(N/df) — the
    linear-idf variant of TF-IDF. Rank-equivalent to log-idf within a
    document at fixed tf (both are monotone decreasing in df), while
    staying an exact ratio of integers: bit-reproducible across engines,
    which log-based idf (libm) is not.

    Shuffles: term counts groupBy (doc, term), document frequency
    groupBy (term), plus the 1-row corpus-count aggregate — then a
    broadcast-able (term, df) join back and a per-document
    WindowGroupLimit for the top-k (each map
    task forwards at most k rows per doc it sees). ``min_df`` drops
    hapax noise before ranking. Ties break (score desc, term asc) for
    determinism.
    """
    from pyspark.sql.window import Window

    terms = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # corpus size as a lazy broadcast 1-row aggregate — an eager
    # .count() here would rescan the corpus at CALL time and add a
    # distinct shuffle before any action runs
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("__n"))
    scored = (
        tf.join(dfreq.where(F.col("df") >= min_df), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * F.col("__n")).cast("double") / F.col("df"),
        )
        .drop("__n")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    max_df: int | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Okapi BM25 top-k retrieval: score every (query, document) pair
    sharing at least one term and keep each query's ``k`` best — the
    standard lexical ranker (Robertson/Sparck Jones) a curation or
    retrieval pipeline runs for benchmark decontamination lookups,
    seed-document expansion, and hard-negative mining next to the
    embedding ANN path. Complements :func:`tfidf_top_terms` (per-doc
    term salience) with cross-doc RANKING: tf saturation via ``k1``
    and length normalization via ``b``,

        score(q, d) = sum over t in q  idf(t) * tf * (k1 + 1)
                      / (tf + k1 * (1 - b + b * dl / avgdl)),
        idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))   (always >= 0).

    Distributed as an inverted-index equi-join: postings (doc, term,
    tf) and doc lengths come from one groupBy each; the query term
    set (distinct terms — standard unit query weights) BROADCASTS and
    prunes the postings stream to query terms before the df join, so
    corpus-sized data never shuffles on anything but the final
    (query, doc) partial-sum aggregation of skinny rows; N and avgdl
    ride in as a 1-row broadcast. ``max_df`` optionally drops viral
    stopword terms (their posting lists are the one skew risk at
    100 TB; their idf is ~0 anyway — AQE skew-join handles the exact
    path when the cap is off). Ranking uses the score ROUNDED to 1e-6
    (ties -> doc id) so ranks are reproducible across engines and
    summation orders. Returns (query_id, doc_id, score_r, rank).

    ``broadcast_queries`` (default True) fits the documented
    fixed-query contract — a benchmark/decontamination term set small
    enough for every executor. Hard-negative mining runs
    queries ≈ corpus, where a broadcast would OOM the executors:
    ``broadcast_queries=False`` switches the postings⋈query-terms join
    to a shuffle join on ``term`` (hint pinned so AQE can't silently
    re-broadcast in tests), the ``ann_top_k_ivf.broadcast_probes``
    contract. Identical results either way — only the physical join
    strategy changes (pinned by pytest).
    """
    from pyspark.sql.window import Window

    terms = corpus.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dl = terms.groupBy(id_col).agg(F.count("*").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    if max_df is not None:
        dfreq = dfreq.where(F.col("df") <= max_df)
    stats = dl.agg(
        F.count("*").cast("double").alias("__n"),
        F.avg(F.col("dl").cast("double")).alias("__avgdl"),
    )
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(tokens_expr(query_text_col))).alias("term"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    term_score = (
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("__avgdl")))
        )
    )
    qjoin = (
        tf.join(F.broadcast(qterms), "term")
        if broadcast_queries
        else tf.join(qterms.hint("shuffle_hash"), "term")
    )
    scored = (
        qjoin.join(dfreq, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(query_id_col, id_col)
        .agg(F.sum(term_score).alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.round("score", 6).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.round("score", 6).alias("score_r"),
            "rank",
        )
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """One-pass dataset datasheet: per group (default source x lang) —
    document/token/char volumes, median document length, and the exact
    duplicate rate. The summary every corpus release ships with, and the
    first sanity check after any curation change.

    One groupBy over the grouping columns; the only non-trivially-
    combinable aggregate is the exact median (percentile), whose
    per-group sort is bounded by the group's own size. The dup counter
    shuffles 16-byte digests inside the same aggregation — no second
    pass."""
    from erpl_web_spark.operators.dedup import normalized_text_expr

    groups = group_cols if group_cols is not None else ["source", "lang"]
    base = df.withColumn("__toks", token_count_expr(text_col)).withColumn(
        "__digest", F.md5(normalized_text_expr(text_col))
    )
    return base.groupBy(*groups).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("__toks").cast("bigint")).alias("n_tokens"),
        F.sum(F.length(text_col).cast("bigint")).alias("n_chars"),
        F.percentile(F.col("__toks").cast("double"), F.lit(0.5)).alias(
            "p50_tokens"
        ),
        (F.count("*") - F.count_distinct("__digest")).alias("n_exact_dups"),
    )


GOPHER_RULE_COLS = [
    "g_word_count", "g_mean_word_len", "g_symbol_ratio",
    "g_bullet_ratio", "g_ellipsis_ratio", "g_alpha_ratio",
    "g_stopword_hits", "gopher_keep",
]


def with_gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021, Appendix
    A1.1 — MassiveWeb filtering), the standard pretraining filter
    battery beyond ``with_quality_score``'s 4 heuristics. Adds one
    boolean per rule plus ``gopher_keep`` (all rules pass):

    - ``g_word_count``: 50..100_000 words
    - ``g_mean_word_len``: mean word length in [3, 10]
    - ``g_symbol_ratio``: (# or ...) to word ratio <= 0.1
    - ``g_bullet_ratio``: <= 90% of lines start with a bullet
    - ``g_ellipsis_ratio``: <= 30% of lines end with an ellipsis
    - ``g_alpha_ratio``: >= 80% of words contain a letter
    - ``g_stopword_hits``: >= 2 distinct English stopword hits

    Pure JVM regex/HOF map — no shuffle, no Python; thresholds are
    parameters of the published recipe, kept verbatim so results are
    comparable with the paper's pipeline."""
    c = F.col(text_col)
    toks = tokens_expr(c)
    n_words = F.size(toks)
    mean_len = F.aggregate(
        toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
    ) / F.greatest(n_words, F.lit(1))
    n_symbols = F.length(F.regexp_replace(c, "[^#]", "")) + F.size(
        F.regexp_extract_all(c, F.lit(r"\.\.\.|…"), F.lit(0))
    )
    lines = F.filter(F.split(c, "\n"), lambda l: F.trim(l) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).rlike(r"^(\-|\*|•)"),
        )
    )
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"),
        )
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    stop_hits = F.size(
        F.array_distinct(
            F.filter(toks, lambda t: _in_list(t, STOPWORDS["en"]))
        )
    )
    out = (
        df.withColumn("g_word_count", (n_words >= 50) & (n_words <= 100_000))
        .withColumn("g_mean_word_len", (mean_len >= 3.0) & (mean_len <= 10.0))
        .withColumn(
            "g_symbol_ratio",
            n_symbols.cast("double") / F.greatest(n_words, F.lit(1)) <= 0.1,
        )
        .withColumn(
            "g_bullet_ratio",
            bullet_lines.cast("double") / n_lines <= 0.9,
        )
        .withColumn(
            "g_ellipsis_ratio",
            ellipsis_lines.cast("double") / n_lines <= 0.3,
        )
        .withColumn(
            "g_alpha_ratio",
            alpha_words.cast("double") / F.greatest(n_words, F.lit(1)) >= 0.8,
        )
        .withColumn("g_stopword_hits", stop_hits >= 2)
    )
    keep = F.lit(True)
    for r in GOPHER_RULE_COLS[:-1]:
        keep = keep & F.col(r)
    return out.withColumn("gopher_keep", keep)


DEFAULT_LINE_DENY_TERMS = ["javascript", "cookie", "all rights reserved"]


def clean_lines(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 3,
    deny_terms: list[str] | None = None,
    out: str = "clean_text",
) -> DataFrame:
    """C4-style line-level cleanup (Raffel et al. 2020 §2.2): rebuild
    each document keeping only lines with at least ``min_tokens``
    whitespace tokens and none of the ``deny_terms`` (case-insensitive
    substring match — the 'javascript/cookie/rights-reserved'
    boilerplate rule). Complements the cross-document span scrubber
    (dedup.remove_duplicated_spans): these rules need no second
    document, so they run as a pure map with zero shuffle.

    Adds ``{out}``, ``n_lines``, ``n_lines_kept``."""
    terms = deny_terms if deny_terms is not None else DEFAULT_LINE_DENY_TERMS

    def line_ok(line: Column) -> Column:
        toks = F.filter(F.split(F.trim(line), r"\s+"), lambda t: t != "")
        ok = F.size(toks) >= min_tokens
        low = F.lower(line)
        for t in terms:
            ok = ok & ~low.contains(t.lower())
        return ok

    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != ""
    )
    kept = F.filter(lines, line_ok)
    return (
        df.withColumn("n_lines", F.size(lines))
        .withColumn("n_lines_kept", F.size(kept))
        .withColumn(out, F.array_join(kept, "\n"))
    )


# engine-portable typographic map: curly quotes, en/em dash, NBSP
_NORM_FROM = "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0"
_NORM_TO = "''\"\"-- "
# C0 controls except \t(09) \n(0A) \r(0D), plus DEL
_CTRL_RE = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out: str = "norm_text",
    lowercase: bool = False,
    changed_col: str = "changed",
) -> DataFrame:
    """Conservative, engine-portable text normalization — the cleanup
    pass web pipelines run BEFORE hashing/dedup so that typographic
    variants of the same content collide: map curly quotes / en- and
    em-dashes / non-breaking spaces to their ASCII forms (pure 1:1
    codepoint ``translate``), strip C0 control characters and DEL
    (keeping tab/newline/CR), collapse horizontal whitespace runs to a
    single space, and trim the ends. Full Unicode NFKC needs ICU and is
    deliberately out of scope — every rule here is a JVM built-in with
    an exact DuckDB equivalent, so normalized-text dedup stays
    oracle-checkable. Pure map, zero shuffle.

    Adds ``{out}`` and ``{changed_col}`` (whether normalization altered
    the text — the audit column: a high changed-rate flags an encoding
    problem upstream, not a cleaning success; rename it when the input
    already carries a ``changed`` column). The flag is null-safe (NULL
    text → changed=false, not NULL) and is computed from the
    PRE-replacement expression, so it stays meaningful if a caller
    writes the normalized text over the input column; ``out ==
    text_col`` in-place overwrite is therefore supported, not
    rejected (ADVICE r8 #2 fix — the earlier form compared against the
    already-replaced column, vacuously false)."""
    c = F.col(text_col)
    n = F.translate(c, _NORM_FROM, _NORM_TO)
    n = F.regexp_replace(n, _CTRL_RE, "")
    n = F.trim(F.regexp_replace(n, "[ \\t]+", " "))
    if lowercase:
        n = F.lower(n)
    # changed compares the normalization EXPRESSION against the input
    # expression, null-safely — and BOTH columns are added in one
    # withColumns so they resolve against the ORIGINAL frame: chained
    # withColumn would re-resolve text_col to the already-replaced
    # column when out == text_col, making changed vacuously false.
    changed = ~n.eqNullSafe(c)
    return df.withColumns({out: n, changed_col: changed})


def line_dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 1,
    keep_first: bool = False,
    sep_pattern: str = "\n",
    join_sep: str = "\n",
    salt: int | None = None,
) -> DataFrame:
    """CROSS-document line deduplication (C4 §2.2 / RefinedWeb /
    MassiveText): a trimmed line appearing in MORE THAN ``max_docs``
    distinct documents is corpus boilerplate (nav bars, cookie banners,
    license footers) and is removed from every document —
    ``keep_first=True`` instead keeps its one globally-first occurrence
    (min ``(id, pos)``), C4's exact policy. The per-document rule
    battery (:func:`clean_lines`) needs no second document; this is its
    corpus-frequency complement, and the line-granularity sibling of
    the span scrubber (``dedup.winnow_targeted_scrub``).

    Scale posture — line BODIES never enter a shuffle:

    - the document-frequency count groups on ``md5(trim(line))`` — a
      32-byte digest, not the line body — via a two-level aggregate
      ((digest, id) then digest), both partial-aggregable, so the
      Zipf-hot boilerplate lines that motivate the operator combine
      map-side instead of skewing one reducer;
    - the hot set is NOT assumed broadcastable (with ``max_docs=1`` it
      is bounded only by half the corpus's line occurrences — a heavily
      duplicated web crawl can make it arbitrarily large), so the
      membership test is a shuffle equi-join of two SKINNY frames:
      (id, pos, digest) occurrences against (digest, winner) hot keys.
      AQE downgrades it to a broadcast join at runtime when the hot
      side measures small — the common case — without the operator
      betting on it;
    - surviving documents are REBUILT from the original text: the drop
      positions aggregate to one int-array row per affected doc and
      join back on ``id_col``, where AQE again broadcasts when few
      docs are affected. Worst case the doc table shuffles once; best
      case (sparse boilerplate) zero body movement;
    - a single mega-hot line (a footer in most of the corpus)
      concentrates its occurrence rows on one reducer inside the
      membership join — the join-under-rollup shape where AQE's skew
      split is measured NOT to engage (SCALING.md round 8); pass
      ``salt`` to fan it over that many reducers (identical rows,
      relational.salted_join).

    Output: (id, ``n_lines``, ``n_lines_kept``, ``clean_text``) with
    trimmed lines re-joined by ``\\n`` in original order. Documents
    whose text has no non-empty line produce NO row (no lines to
    count — same contract as the tokenizer-family operators on empty
    docs); a document that loses every line keeps its row with
    ``n_lines_kept = 0`` and empty ``clean_text``.

    Granularity is a knob: the default splits on single newlines
    (lines); ``sep_pattern="\\n{2,}", join_sep="\n\n"`` dedups at
    PARAGRAPH level (Dolma-style) — units keep internal newlines, the
    digest still normalizes only edge spaces.
    """
    arr = F.split(F.col(text_col), sep_pattern)
    occurrences = (
        df.select(
            F.col(id_col),
            F.posexplode(arr).alias("pos", "raw"),
        )
        .select(id_col, "pos", F.md5(F.trim("raw").cast("binary")).alias("digest"))
        .where(F.trim(F.col("raw")) != "")
    )
    per_doc = occurrences.groupBy("digest", id_col).agg(
        F.min("pos").alias("first_pos")
    )
    hot = (
        per_doc.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.struct(F.col(id_col), F.col("first_pos"))).alias("winner"),
        )
        .where(F.col("n_docs") > max_docs)
        .select("digest", "winner")
    )
    if salt:
        from erpl_web_spark.operators.relational import salted_join

        # one mega-hot line (a footer in most of the corpus) lands every
        # matching occurrence row on ONE reducer in the membership join;
        # AQE's skew split is measured NOT to engage in this
        # join-under-rollup shape (SCALING.md round-8 Zipf measurement —
        # same plan shape as the token join-backs), so salting is the
        # explicit mitigation: identical rows, hot digest fanned over
        # ``salt`` reducers.
        dropped = salted_join(occurrences, hot, "digest", salt=salt)
    else:
        dropped = occurrences.join(hot, "digest")
    if keep_first:
        dropped = dropped.where(
            ~(
                (F.col("winner")[id_col] == F.col(id_col))
                & (F.col("winner")["first_pos"] == F.col("pos"))
            )
        )
    drops = dropped.groupBy(id_col).agg(F.collect_list("pos").alias("__drop_pos"))

    rebuilt = df.join(drops, id_col, "left")
    keep_raw = F.filter(
        arr,
        lambda x, i: (F.trim(x) != "")
        & ~F.coalesce(F.array_contains(F.col("__drop_pos"), i), F.lit(False)),
    )
    kept = F.transform(keep_raw, lambda x: F.trim(x))
    n_lines = F.size(F.filter(arr, lambda x: F.trim(x) != ""))
    return (
        rebuilt.select(
            F.col(id_col),
            n_lines.cast("int").alias("n_lines"),
            F.size(kept).cast("int").alias("n_lines_kept"),
            F.array_join(kept, join_sep).alias("clean_text"),
        )
        .where(F.col("n_lines") > 0)
    )


def hashed_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 64,
) -> DataFrame:
    """Feature-hashing ("hashing trick") vectorizer: token counts
    folded into a fixed ``num_buckets``-dimensional sparse vector per
    document, emitted as (id, bucket, cnt) rows — the
    vocabulary-free featurizer for corpus-scale classifiers and
    quality models (Weinberger et al. 2009). No vocabulary table, no
    fit step, no driver state: new tokens land in a stable bucket by
    construction, so train and inference pipelines can never skew.

    The bucket hash is the first 8 hex digits of md5 mod
    ``num_buckets`` — engine-portable (DuckDB computes the identical
    value, so the result is value-hash oracle-checkable), deterministic
    across sessions, and uniform enough for feature folding. Swap in
    ``xxhash64`` for production if oracle parity is not needed.

    Shuffle posture: tokens explode map-side; the only shuffle is the
    (id, bucket) count aggregation with map-side combine — output
    cardinality is min(n_tokens, num_buckets) rows per document.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        % num_buckets
    ).cast("int")
    return (
        df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok"))
        .select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def linear_quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 64,
    weight_mod: int = 997,
) -> DataFrame:
    """Fasttext-style linear text-classifier INFERENCE, entirely
    JVM-side: score = sigmoid(mean of per-token hashed-bucket weights).
    This is the quality-model scoring stage of corpus pipelines
    (fasttext/DSIR-style: a linear model over hashed bag-of-words
    features scores every document; downstream filters threshold on
    the probability) — demonstrated here with a deterministic
    pseudo-random weight table computed as an EXPRESSION of the bucket
    index, so inference needs no weight-table join at all. A trained
    model would broadcast its (num_buckets) weight array instead; the
    shuffle posture is identical.

    Numeric determinism: weights are INTEGER-scaled
    (``(bucket*2654435761) % weight_mod - (weight_mod-1)//2``), so the
    per-document weighted sum is an exact bigint aggregate — no
    float-summation-order drift between engines or between cluster
    sizes; floats appear only in the final scalar division and
    sigmoid, and ``p_keep`` is rounded to 9 decimals to absorb libm
    exp() ulp differences. The only shuffle is the (id, bucket) count
    combine inherited from :func:`hashed_features`; everything after
    is a partial-aggregable per-doc sum.

    Returns (id, n_toks, margin in [-0.5, 0.5], p_keep, keep).
    """
    half = (weight_mod - 1) // 2
    feats = hashed_features(df, id_col, text_col, num_buckets)
    w_int = (
        F.col("bucket").cast("bigint") * F.lit(2654435761) % F.lit(weight_mod)
        - F.lit(half)
    )
    per_doc = feats.groupBy(id_col).agg(
        F.sum(w_int * F.col("cnt")).alias("__num"),
        F.sum("cnt").alias("n_toks"),
    )
    margin = F.round(
        F.col("__num") / (F.lit(float(weight_mod)) * F.col("n_toks")), 12
    )
    return (
        per_doc.select(F.col(id_col), "n_toks", margin.alias("margin"))
        .withColumn(
            "p_keep",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 9),
        )
        .withColumn("keep", F.col("p_keep") >= F.lit(0.5))
    )


def countmin_sketch(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch of the corpus token frequencies (Cormode &
    Muthukrishnan 2005): ``depth`` independent hash rows of ``width``
    counters — the bounded-memory frequency summary for streams/corpora
    whose vocabulary doesn't fit anywhere. Output is (d, w, cnt) rows,
    at most depth*width of them REGARDLESS of corpus size; the count
    aggregate is partial-aggregable, so the Zipf head combines map-side
    and the shuffle carries at most depth*width rows per map task.

    Buckets come from the md5-derived integer hash (the
    ``hashed_features`` trick), so the sketch is bit-identical across
    engines — a DuckDB oracle can rebuild it exactly, which makes the
    ±εN error CONTRACT value-hash-checkable rather than asserted.
    Point estimates via :func:`countmin_lookup` (min over rows —
    never undercounts, overcounts by at most εN = e/width · N with
    probability 1-δ = 1-e^-depth)."""
    toks = df.select(F.explode(tokens_expr(text_col)).alias("tok"))
    return countmin_sketch_col(toks, "tok", depth, width)


def countmin_sketch_col(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch of a COLUMN's value frequencies — the same
    md5-bucketed (d, w, cnt) construction :func:`countmin_sketch`
    applies to tokens, usable on any key column (values hash via their
    string form, so a BIGINT join key and its VARCHAR rendering sketch
    identically — the engine-portable contract). This is the summary
    :func:`relational.join_size_estimate` inner-products to predict an
    equi-join's output size without running it. NULL values are
    excluded (the SQL aggregate convention — and a NULL key joins
    nothing, so it must not count toward a join-size estimate)."""
    rows = df.where(F.col(col).isNotNull()).select(
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
        F.col(col).cast("string").alias("__v"),
    ).select(
        "d",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(":", F.col("d").cast("string"), F.col("__v"))
                        .cast("binary")
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint")
            % width
        ).cast("int").alias("w"),
    )
    return rows.groupBy("d", "w").agg(F.count(F.lit(1)).alias("cnt"))


def countmin_lookup(
    sketch: DataFrame,
    tokens: DataFrame,
    tok_col: str = "tok",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate each token in ``tokens`` against a
    :func:`countmin_sketch`: est = min over the depth rows of the
    token's counter. The probe side explodes to depth skinny rows and
    equi-joins the (at most depth*width row) sketch — broadcast-sized
    by construction. Returns (tok_col, est_n); est_n >= true count
    always (the one-sided CMS guarantee).

    The sketch stores only OCCUPIED counters (a groupBy emits no row
    for a zero cell), so the probe side LEFT-joins and coalesces a
    missing counter to 0: a token whose (d, w) cell is empty in any
    depth row has true count 0 and must estimate 0 — an inner join
    would take the min over only the occupied rows (breaking the
    eps*N bound for unseen tokens) and drop tokens hitting no
    occupied cell entirely."""
    probes = tokens.select(
        F.col(tok_col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    ).select(
        tok_col,
        "d",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(":", F.col("d").cast("string"), F.col(tok_col))
                        .cast("binary")
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint")
            % width
        ).cast("int").alias("w"),
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "w"], "left")
        .groupBy(tok_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_n"))
    )


def _bloom_positions(tok: Column, k: int, m_bits: int) -> Column:
    """Array of the ``k`` md5-derived bit positions of a token — the
    engine-portable hash family (the countmin_sketch trick): position i
    = md5('i:tok')[:8 hex] % m_bits. 32-bit draw, always positive."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(":", i.cast("string"), tok).cast("binary")
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint")
            % m_bits
        ),
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value: Column | str,
    p: int = 8,
) -> DataFrame:
    """HyperLogLog distinct-count estimate per group (Flajolet et al.
    2007) with ENGINE-PORTABLE registers — the third sketch next to
    Bloom and count-min: cardinality in one pass with m = 2**p longs
    of state per group, mergeable across partitions (register max is
    the combine), the sketch behind every distinct-at-100-TB dashboard.

    Spark-first note: for a one-shot answer inside one job use the
    built-in ``approx_count_distinct`` (HLL++, JVM-tuned). THIS form
    exists for what that cannot do: registers built from the repo's
    md5 hash family are bit-identical in any engine, so a persisted /
    cross-engine sketch — and the estimate itself — is value-hash
    oracle-checkable, the bloom_filter_words posture applied to
    cardinality.

    Register construction in exact integer arithmetic: the 48-bit md5
    hash splits into a p-bit register index and a (48-p)-bit tail;
    rho = position of the tail's highest set bit from the top + 1
    (tail 0 -> 49-p), computed via length(bin(x)) — identical in
    Spark and DuckDB, no libm. The harmonic sum is kept INTEGER
    (sum of 2**(49-p-rho) with empty registers contributing 2**(49-p)),
    so the only doubles are the final alpha*m^2*2^K / S division and
    the small-range linear-counting branch m*ln(m/V) (E_raw <= 2.5m,
    V = empty registers > 0) — both reproducible cross-engine at the
    1e-6 rounding the suite hashes at.

    Returns (group_cols..., n_zero_regs, hll_est) per group.
    """
    return hll_estimate(hll_registers(df, group_cols, value, p), group_cols, p)


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value: Column | str,
    p: int = 8,
) -> DataFrame:
    """The persistable SKETCH STATE behind :func:`hll_distinct`: one
    (group, register index, rank) row per non-empty register — at most
    2**p rows per group no matter the input size. Register max is the
    merge, so sketches from different batches/partitions/engines
    combine with ``hll_merge`` and only then pay :func:`hll_estimate`
    — the incremental-index posture applied to cardinality (count
    distinct users over a year of daily batches without re-reading
    them). Returns (group_cols..., __idx, __r)."""
    from erpl_web_spark.operators.dedup import _md5_long48

    tail_bits = 48 - p
    kmax = tail_bits + 1
    v = F.col(value) if isinstance(value, str) else value
    h = _md5_long48(v)
    idx = F.shiftright(h, tail_bits)
    rest = h.bitwiseAND(F.lit((1 << tail_bits) - 1))
    rho = F.when(rest == F.lit(0), F.lit(kmax)).otherwise(
        F.lit(kmax) - F.length(F.bin(rest))
    )
    return (
        # NULLs are excluded, matching count_distinct semantics (and
        # the DuckDB twin, where md5(NULL) is NULL): without the filter
        # _md5_long48's concat_ws renders NULL as '' — a phantom extra
        # value that also collides with genuine empty strings
        df.where(v.isNotNull())
        .select(*group_cols, idx.alias("__idx"), rho.alias("__rho"))
        .groupBy(*group_cols, "__idx")
        .agg(F.max("__rho").alias("__r"))
    )


def hll_merge(*sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """Union ``hll_registers`` outputs and re-max per register — the
    lossless HLL merge (max is idempotent, commutative, associative,
    so ANY combination order or batch split yields the identical
    sketch; pytest-pinned)."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy(*group_cols, "__idx").agg(F.max("__r").alias("__r"))


def hll_estimate(
    regs: DataFrame,
    group_cols: list[str],
    p: int = 8,
) -> DataFrame:
    """Estimate per-group cardinality from ``hll_registers`` state —
    see :func:`hll_distinct` for the arithmetic contract (integer
    harmonic sum; raw vs linear-counting branch)."""
    m = 1 << p
    kmax = 48 - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = alpha * m * m * float(1 << kmax)  # one Python double, shared w/ SQL

    per_group = regs.groupBy(*group_cols).agg(
        F.count("*").alias("__nz"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({kmax} - __r AS INT))")
        ).alias("__s_present"),
    )
    vzero = F.lit(m) - F.col("__nz")
    s = F.col("__s_present") + vzero * F.lit(1 << kmax)
    e_raw = F.lit(num) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (vzero > F.lit(0)),
        F.lit(float(m)) * F.log(F.lit(m) / vzero),
    ).otherwise(e_raw)
    return per_group.select(
        *group_cols,
        vzero.cast("long").alias("n_zero_regs"),
        est.alias("hll_est"),
    )


def bloom_filter_words(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    m_bits: int = 96,
) -> DataFrame:
    """Bloom filter over the corpus's distinct tokens (Bloom 1970) as
    (word, mask) rows — 48 bits per word, at most ceil(m_bits/48) rows
    REGARDLESS of corpus size: the membership sketch that prunes joins
    at 100 TB (ship the filter broadcast-side; only candidate matches
    shuffle). Build is one distinct-token pass fanned out k ways, and
    the bit_or aggregate is partial-aggregable, so the shuffle carries
    at most m_bits/48 rows per map task.

    Bit positions come from the md5-derived hash family
    (:func:`_bloom_positions`), so the filter is bit-identical across
    engines — a DuckDB oracle rebuilds it exactly, which makes the
    one-sided error CONTRACT (no false negatives, ever; false
    positives at a rate set by the load factor) value-hash-checkable
    rather than asserted. Words are 48-bit so every shift stays clear
    of the bigint sign bit in both engines.

    Scope note (Spark-first): for JOIN pruning inside one Spark job,
    do nothing — Catalyst injects runtime bloom filters into shuffle
    joins on its own (spark.sql.optimizer.runtime.bloomFilter.enabled,
    default true; verified on this session's conf). This explicit,
    hash-portable form is for what the optimizer cannot do: a
    PERSISTED membership summary probed in a later job, shipped to
    another engine, or checked against an oracle. Measured FP vs
    theory at 50k-token vocabulary: within ~2% (SCALING.md r10)."""
    toks = df.select(F.explode(tokens_expr(text_col)).alias("tok")).distinct()
    return bloom_filter_values(toks, "tok", k=k, m_bits=m_bits)


def bloom_filter_values(
    df: DataFrame,
    value_col: str,
    k: int = 3,
    m_bits: int = 96,
) -> DataFrame:
    """Bloom (word, mask) rows over an arbitrary value column — the
    generic builder behind :func:`bloom_filter_words` (tokens), the
    URL-index claim filters (digests), and the contamination
    pre-filter (shingle hashes). Values hash via their string
    rendering through the md5 position family, so the filter is
    bit-identical across engines. At most ceil(m_bits/48) output rows
    regardless of input size; the bit_or is partial-aggregable."""
    pos = df.select(
        F.explode(
            _bloom_positions(F.col(value_col).cast("string"), k, m_bits)
        ).alias("pos")
    ).distinct()
    return (
        pos.select(
            F.floor(F.col("pos") / 48).cast("bigint").alias("word"),
            (F.col("pos") % 48).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(
            # shiftleft's python binding takes only a literal bit count
            # — the SQL form accepts a column (the lsh_bucket idiom)
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("mask")
        )
    )


def bloom_probe(
    probes: DataFrame,
    bloom: DataFrame,
    k: int = 3,
    m_bits: int = 96,
    token_col: str = "probe",
    assume_distinct: bool = False,
) -> DataFrame:
    """Membership test against :func:`bloom_filter_words`: a probe is
    ``present`` iff ALL ``k`` of its bits are set. The filter is at
    most ceil(m_bits/48) rows, so it broadcasts; the probe side fans
    out k ways and re-aggregates per probe (partial-aggregable sum).
    Returns ONE row per DISTINCT probe value: (token_col, n_hits,
    present) — n_hits < k is a PROOF of absence (the no-false-negative
    side); n_hits == k is membership up to the false-positive rate.

    Probes are deduplicated internally: a probe value appearing twice
    would otherwise accumulate 2k position rows and fail the
    ``n_hits == k`` test — a silent false negative that would break
    the one-sided error contract. The distinct is a shuffle of bare
    probe strings, partial-aggregable, and no wider than the
    per-probe re-aggregation the operator already pays. Callers whose
    probes are ALREADY unique (a post-election digest set, a vocab
    table) pass ``assume_distinct=True`` to skip that exchange — the
    contract is then theirs to uphold; duplicates would silently
    produce the very false negatives the distinct exists to prevent."""
    uniq = probes if assume_distinct else probes.select(F.col(token_col)).distinct()
    pos = uniq.select(
        F.col(token_col),
        F.explode(_bloom_positions(F.col(token_col), k, m_bits)).alias("pos"),
    ).select(
        token_col,
        F.floor(F.col("pos") / 48).cast("bigint").alias("word"),
        (F.col("pos") % 48).cast("int").alias("bit"),
    )
    hit = F.expr(
        "shiftrightunsigned(coalesce(mask, CAST(0 AS BIGINT)), bit)"
    ).bitwiseAND(F.lit(1))
    return (
        pos.join(F.broadcast(bloom), "word", "left")
        .groupBy(token_col)
        .agg(F.sum(hit).cast("int").alias("n_hits"))
        .select(
            token_col, "n_hits", (F.col("n_hits") == k).alias("present")
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every ``k``-character gram, slide a
    ``w``-gram window, keep each window's MINIMUM hash, and return the
    DISTINCT (id, fp) fingerprint set. Guarantees: any shared substring
    of length >= k + w - 1 between two documents yields at least one
    shared fingerprint, while storing only ~2/(w+1) of the gram hashes
    — the local-similarity complement to the global MinHash sketch
    (``dedup.minhash_lsh_pairs``).

    The gram hash is the first 12 hex digits of md5 (48 bits) —
    engine-portable for oracle checking, same tradeoff as
    ``hashed_features``. Documents shorter than ``k`` characters yield
    no fingerprints; documents with fewer than ``w`` grams yield the
    min over what exists (one shrunken window).

    Spark shape: ENTIRELY map-side per document — gram hashes, window
    minima and the distinct fingerprint set are array higher-order
    functions (``transform``/``slice``/``array_min``/``array_distinct``)
    over a JVM ``sequence`` (guarded by a length >= k filter —
    ``sequence(1, n)`` counts DOWN for n < 1), then one explode. No
    Window operator, no shuffle: the exploded output is already
    distinct within each document (an earlier revision exploded grams
    and ran a ROWS-frame window min — that shuffled ~2x the corpus
    character count; the array form shuffles nothing). The transient
    hash array is O(doc length) longs — chunk multi-MB documents
    upstream. Self-join of the output on (fp) gives candidate
    plagiarism/overlap pairs, bucketed exactly like LSH bands
    (``winnow_overlap_pairs``).
    """
    n_grams = F.length(F.col(text_col)) - k + 1
    hs = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda p: F.conv(
            F.substring(F.md5(F.col(text_col).substr(p, F.lit(k))), 1, 12), 16, 10
        ).cast("long"),
    )
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams - w + 1, F.lit(1))),
        lambda p: F.array_min(F.slice(F.col("__hs"), p, w)),
    )
    return (
        df.where(F.length(F.col(text_col)) >= k)
        .select(F.col(id_col), F.col(text_col), hs.alias("__hs"))
        .select(F.col(id_col), F.explode(F.array_distinct(wins)).alias("fp"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
    cache_sink: list | None = None,
) -> DataFrame:
    """Candidate local-overlap pairs from shared winnowing fingerprints:
    (id_a, id_b, n_shared) for document pairs sharing at least
    ``min_shared`` fingerprints — the plagiarism/quote/boilerplate
    detector that MinHash misses (Jaccard dilutes a short shared passage
    inside two long documents; winnowing pins it locally).

    Scale posture is LSH banding via bucketized grouping: fingerprints
    are computed ONCE, grouped per fp into a sorted posting list, and
    the in-bucket pairs expand from the list with array functions —
    never an all-pairs join, and no second or third scan of the corpus
    (a fp-keyed self-join formulation re-runs the O(total characters)
    gram hashing once per join side plus once for the df filter).
    ``max_df`` drops fingerprints appearing in more than that many
    documents — the stop-fingerprint guard that bounds both the posting
    lists and the quadratic in-bucket expansion from corpus-wide
    boilerplate (same hazard and same fix as hot MinHash bands); it is
    mandatory at scale, so the default caps rather than passing None
    through. The cap is applied BEFORE the posting lists are built: a
    map-side-combined count aggregation finds the hot fingerprints and
    an anti-join (tiny build side — AQE broadcasts it) removes them
    from the persisted fingerprint table, so ``collect_list`` never
    materializes a corpus-wide boilerplate fingerprint's multi-GB
    buffer on one task only to discard it (filtering AFTER the
    aggregation bounds retained lists but not built ones).

    Cache lifetime: the fingerprint table is persisted internally (two
    consumers) and — like every lazy-return operator here that
    persists an intermediate — stays cached until the session ends or
    the caller runs ``spark.catalog.clearCache()``; long-lived
    streaming drivers calling this per batch should clear between
    batches, or pass ``cache_sink`` (a list) to receive the internal
    persisted frames and ``unpersist()`` them once the result is
    materialized (the ``curate()`` facade does this).
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    if max_df is not None:
        from erpl_web_spark.operators._cache import track_persist

        fps = track_persist(fps, "winnow_overlap_pairs", cache_sink)
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").cast("bigint").alias("df_n"))
            .where(F.col("df_n") > max_df)
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
    posting = fps.groupBy("fp").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    posting = posting.where(F.size("ids") >= 2)
    # TWO-LEVEL pair expansion: posexplode the posting list first, then
    # explode each element's strictly-after suffix. Semantically equal
    # to flatten(transform(...transform struct pairs...)) — but that
    # single-level form materializes the whole C(n,2)-struct array in
    # ONE row buffer before exploding (~12 MB per df=1000 fingerprint;
    # a natural-vocabulary corpus has MANY common-phrase fingerprints
    # between the min and the cap, and 32 concurrent tasks each
    # buffering a few such rows OOMed an 8 GB heap at 22k docs —
    # round-9 natural_slope finding). Here per-row transient memory is
    # O(list length), bounded by max_df, and the C(n,2) total streams
    # through the generator iterator instead of living in arrays.
    lhs = posting.select(
        "ids", F.posexplode("ids").alias("i", "id_a")
    ).where(F.col("i") < F.size("ids") - 1)
    return (
        lhs.select(
            "id_a",
            # elements strictly after position i (slice is 1-based;
            # over-long lengths truncate at the end of the list)
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
            ).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def strip_html_expr(col) -> Column:
    """HTML -> text as a pure column expression (web-crawl ingest's
    first step): drop ``<script>``/``<style>`` blocks and comments
    whole, replace remaining tags with spaces, decode the six common
    entities, collapse whitespace. Every pattern stays inside the
    regex subset Java (Spark) and RE2 (DuckDB) evaluate identically —
    no backreferences, no lookaround — so the transform is value-hash
    oracle-checkable cross-engine; it is a cleaner, not a parser.
    Contract edges: the tag pattern requires a letter, ``/``, ``!`` or
    ``?`` after ``<`` (the last covering processing-instruction /
    declaration spans like ``<?xml version="1.0"?>`` and inline
    ``<?php ... ?>``), so bare angle-bracket prose like ``x < y > z``
    survives, but a tag-shaped span like ``<y>`` in prose is stripped;
    malformed nesting degrades to extra whitespace; only the six named
    entities are decoded — numeric ``&#NN;``/``&#xNN;`` forms pass
    through as literal text.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[a-zA-Z/!?][^>]*>", " ")
    c = F.regexp_replace(c, r"&lt;", "<")
    c = F.regexp_replace(c, r"&gt;", ">")
    c = F.regexp_replace(c, r"&quot;", '"')
    c = F.regexp_replace(c, r"&#39;", "'")
    c = F.regexp_replace(c, r"&nbsp;", " ")
    c = F.regexp_replace(c, r"&amp;", "&")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


# Query parameters dropped by canonicalize_url_expr: per-click tracking
# noise that makes byte-identical pages look distinct to a URL-keyed
# dedup (the CCNet/RefinedWeb first stage dedups on normalized URL
# before any content hash is computed). The (=|$) tail matches both
# 'utm_source=x' and a bare valueless 'utm_source' (servers ignore
# both forms identically).
URL_TRACKING_PARAM_RE = "^(utm_[^=&]*|fbclid|gclid)(=|$)"


def pct_normalize_expr(col) -> Column:
    """RFC 3986 §6.2.2 percent-encoding normalization as a pure column
    expression: decode ``%XX`` escapes of UNRESERVED characters
    (ALPHA / DIGIT / ``-._~`` — §2.3: escaping them never changes the
    resource, so ``%41`` ≡ ``A``) and uppercase the hex digits of
    every remaining escape (``%2f`` ≡ ``%2F``); a ``%`` not followed
    by two hex digits passes through literally. Idempotent: decoded
    characters contain no ``%``, and reserved escapes are already
    uppercase after one pass.

    Shape: split on ``%`` (piece 0 predates any escape; every later
    piece starts where an escape began), fix each piece with
    hex→codepoint→char built-ins (``conv``/``char``) and a one-char
    unreserved character-class test — no UDF, no lookup table, stays
    in codegen. Decoding unreserved characters can never create a URL
    delimiter (``:/?#&=%`` are all reserved), so running this BEFORE
    URL parsing is safe by construction."""
    u = F.col(col) if isinstance(col, str) else col
    pieces = F.split(u, "%", -1)

    def fix(x: Column) -> Column:
        hexpair = F.upper(F.substring(x, 1, 2))
        rest = F.substring(x, 3, 2147483647)
        decoded = F.char(F.conv(hexpair, 16, 10).cast("bigint"))
        return (
            F.when(~x.rlike("^[0-9A-Fa-f]{2}"), F.concat(F.lit("%"), x))
            .when(
                decoded.rlike("^[0-9A-Za-z._~-]$"), F.concat(decoded, rest)
            )
            .otherwise(F.concat(F.lit("%"), hexpair, rest))
        )

    return F.concat(
        F.get(pieces, 0),
        F.array_join(
            F.transform(F.slice(pieces, 2, F.size(pieces)), fix), ""
        ),
    )


def canonicalize_url_expr(col) -> Column:
    """URL -> canonical form as a pure column expression — the key the
    web-pipeline URL dedup groups on (CCNet §2.1 / RefinedWeb first
    stage: one fetch per page, before any content processing).

    Rules, in order: normalize percent-encoding
    (:func:`pct_normalize_expr` — decode unreserved-character escapes,
    uppercase the rest; RFC 3986 §6.2.2, so an obfuscated
    ``%75tm_source`` is seen by the tracking-param filter below);
    lowercase scheme and host; strip a leading ``www.``; strip the
    scheme's default port (``:80`` http, ``:443`` https — any other
    explicit port is kept: it names a different origin); drop the
    fragment (client-side only); strip one trailing slash from the
    path and render an empty path as ``/``; drop tracking query
    parameters (:data:`URL_TRACKING_PARAM_RE`, including the bare
    valueless ``?utm_source`` form) and sort the survivors
    byte-lexicographically (``a=1&b=2`` == ``b=2&a=1`` — order is
    almost never semantic; the rare order-sensitive endpoint trades
    off against the dedup recall this buys).

    Scheme-less input (no ``://``) is NOT a URL this canonicalizer
    understands: it passes through UNCHANGED (each distinct string is
    its own key) rather than being mangled into ``://host/...`` —
    callers that want scheme-less crawl records deduped should prefix
    a scheme first.

    Narrow map, no shuffle, whole-stage codegen: regex/split/filter/
    array_sort built-ins only, every pattern inside the Java-RE2
    common subset, so the transform is value-hash oracle-checkable
    cross-engine. Stated boundaries (not silent gaps): IDN/punycode
    hosts are out of scope, and a reserved escape inside the HOST is
    lowercased along with the host (hosts are case-insensitive; %XX
    in a hostname is vanishingly rare).
    """
    raw = F.col(col) if isinstance(col, str) else col
    u = pct_normalize_expr(raw)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    nofrag = F.get(F.split(rest, "#", 2), 0)
    hostport = F.regexp_extract(nofrag, r"^([^/?]+)", 1)
    tail = F.regexp_replace(nofrag, r"^[^/?]+", "")
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    host = F.regexp_replace(
        F.regexp_replace(F.lower(hostport), r":[0-9]+$", ""), r"^www\.", ""
    )
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    portpart = F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit(""))
    path = F.get(F.split(tail, r"\?", 2), 0)
    query = F.get(F.split(tail, r"\?", 2), 1)  # null when no '?'
    path1 = F.regexp_replace(path, r"/$", "")
    canon_path = F.when(path1 == "", F.lit("/")).otherwise(path1)
    params = F.filter(
        F.split(F.coalesce(query, F.lit("")), "&"),
        lambda x: (x != "") & ~x.rlike(URL_TRACKING_PARAM_RE),
    )
    qsorted = F.array_join(F.array_sort(params), "&")
    qpart = F.when(qsorted != "", F.concat(F.lit("?"), qsorted)).otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), host, portpart, canon_path, qpart)
    return F.when(scheme == "", raw).otherwise(canon)


def _bigram_frame(
    df: DataFrame, id_col: str, text_col: str, cache_sink: list | None = None
) -> DataFrame:
    """Persisted exploded bigram frame (id, w1, w2) — one row per
    adjacent token pair, shared by the coverage and log-prob scores so
    the sequence-hazard guard (size >= 2 BEFORE the index expansion)
    lives in exactly one place. Persisted because every caller feeds it
    to both a model-count aggregation and a join-back; lifetime routes
    through ``_cache.track_persist`` — caller-owned via ``cache_sink``,
    else registry-tracked (loud on accumulation, releasable via
    ``operators.release_tracked()``)."""
    from erpl_web_spark.operators._cache import track_persist

    toks = df.select(F.col(id_col), tokens_expr(text_col).alias("t")).where(
        F.size("t") >= 2
    )
    return track_persist(
        toks.select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.get("t", i - 1).alias("w1"), F.get("t", i).alias("w2")
                    ),
                )
            ).alias("p"),
        ).select(id_col, "p.w1", "p.w2"),
        "_bigram_frame",
        cache_sink,
    )


def with_bigram_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 3,
    cache_sink: list | None = None,
    salt: int | None = None,
) -> DataFrame:
    """Bigram corpus-coverage scoring — the adjacency-level sibling of
    ``with_unigram_freq_score``: per document, the fraction of its
    bigram OCCURRENCES whose corpus-wide bigram count reaches
    ``min_count``. Documents full of never-repeated adjacencies (OCR
    noise, shredded markup, word salad) score near 0; natural prose
    scores high — a cheap second-order LM signal with no model, and
    exact-integer arithmetic until one final double division (so the
    result is value-hash oracle-checkable).

    Returns (id, n_bigrams, n_covered, bigram_coverage). Documents with
    fewer than two tokens keep n_bigrams = 0 and coverage 0.0 (filtered
    BEFORE the index expansion — the descending-sequence hazard).

    Shuffle posture: bigrams explode map-side; the count aggregation is
    map-side combined on (w1, w2); the count join back to occurrences
    is bigram-keyed — hyper-frequent bigrams ("of the") are the heavy
    hitters, and as in ``with_unigram_freq_score`` AQE's skew split is
    measured NOT to engage under the roll-up (SCALING.md round 8):
    ``salt`` is the explicit mitigation, fanning each bigram over
    ``salt`` reducers with identical output rows; the roll-up
    shuffles (id, long)
    pairs only. The exploded bigram frame feeds BOTH the corpus count
    and the join-back, so it is persisted — tokenization + explode (the
    dominant cost at scale) runs once, and the second consumer reads
    the InMemoryRelation. Cache lifetime: caller-owned via
    ``cache_sink``, else registry-tracked (loud on accumulation —
    ``operators.release_tracked()`` clears between batches on
    long-lived drivers).
    """
    bg = _bigram_frame(df, id_col, text_col, cache_sink)
    counts = bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("bn"))
    if salt:
        from erpl_web_spark.operators.relational import salted_join

        joined = salted_join(bg, counts, ["w1", "w2"], salt=salt)
    else:
        joined = bg.join(counts, ["w1", "w2"])
    per_doc = (
        joined
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum((F.col("bn") >= min_count).cast("long"))
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("n_covered", F.lit(0)).cast("bigint").alias("n_covered"),
            (
                F.coalesce("n_covered", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_bigrams", F.lit(0)), F.lit(1)).cast("double")
            ).alias("bigram_coverage"),
        )
    )


def with_bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 0.5,
    cache_sink: list | None = None,
    salt: int | None = None,
) -> DataFrame:
    """Per-document mean bigram log-probability under an add-k-smoothed
    corpus bigram model — the model-free stand-in for the CCNet-style
    perplexity filter: ``avg log2 P(w2|w1)`` where ``P(w2|w1) =
    (C(w1,w2) + k) / (C(w1·) + k·V)``, ``C(w1·)`` the count of bigrams
    headed by ``w1`` and ``V`` the continuation vocabulary size. Word
    salad and shredded markup sit far below natural prose; unlike
    ``with_bigram_coverage`` (a 0/1 threshold per adjacency) this is a
    calibrated score that ranks documents.

    Returns (id, n_bigrams, avg_log2p) — 0-bigram documents get 0.0.

    Spark shape: the bigram expansion runs ONCE (persisted via
    ``_bigram_frame``, both the model counts and the join-back read the
    InMemoryRelation); the pair-count table is the ONLY aggregation
    over the full occurrence frame — head counts (``hn = sum bn``) and
    the vocabulary size derive from the far smaller persisted
    pair-count table instead of re-scanning occurrences; ``V`` rides
    in as a broadcast 1-row crossJoin so nothing collects to the
    driver; the per-doc roll-up shuffles (id, double) rows.
    Hyper-frequent pairs AND heads are the heavy hitters; AQE's skew
    split is measured not to engage under the roll-up (SCALING.md
    round 8), so ``salt`` salts BOTH join-backs (pair- and
    head-keyed) — identical output rows, two extra broadcasts.
    """
    from erpl_web_spark.operators._cache import track_persist

    bg = _bigram_frame(df, id_col, text_col, cache_sink)
    pair_counts = track_persist(
        bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("bn")),
        "with_bigram_logprob",
        cache_sink,
    )
    head_counts = pair_counts.groupBy("w1").agg(
        F.sum("bn").cast("bigint").alias("hn")
    )
    vocab = pair_counts.agg(F.countDistinct("w2").cast("bigint").alias("v"))
    if salt:
        from erpl_web_spark.operators.relational import salted_join

        joined = salted_join(
            salted_join(bg, pair_counts, ["w1", "w2"], salt=salt),
            head_counts, "w1", salt=salt,
        )
    else:
        joined = bg.join(pair_counts, ["w1", "w2"]).join(head_counts, "w1")
    per_doc = (
        joined
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.avg(
                F.log2(
                    (F.col("bn") + F.lit(add_k))
                    / (F.col("hn") + F.lit(add_k) * F.col("v"))
                )
            ).alias("avg_log2p"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("avg_log2p", F.lit(0.0)).alias("avg_log2p"),
        )
    )

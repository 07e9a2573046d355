"""Text-analysis operators for LLM training-data pipelines.

All operators are pure Column-expression compositions (whole-stage codegen,
no Python in the hot path) so they scale linearly over a 100 TB `documents`
table: tokenization, language ID (stopword-ratio heuristic), quality
scoring, token counting, and winnowing-style document fingerprinting.

Determinism note: every score bottoms out in integer counts and md5 hex
strings, so results are bit-stable across engines — the DuckDB oracles in
``queries.py`` reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

# Small per-language function-word lists for the n-gram/stopword heuristic.
# Deliberately tiny and frozen: the point is a deterministic, cheap signal,
# not linguistic completeness. Known limits: tokens() splits on whitespace,
# so UNSEGMENTED CJK text forms one long token that matches no single-char
# zh stopword (real Chinese labels as 'und'), and punct_ratio counts
# non-ASCII letters as punctuation — swap in a real segmenter/langid model
# where quality matters more than oracle-reproducible determinism.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "for", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"),
    "de": ("der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "des"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不", "这", "他"),
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]

WORD_RE = "[^a-z0-9一-鿿 ]"


def tokens(text: Column) -> Column:
    """Lowercase, strip punctuation, split on whitespace, drop empties.

    Implemented as ONE ``regexp_extract_all`` over the kept-character
    class (maximal runs of ``[a-z0-9一-鿿]`` — identical token stream to
    the replace→split→filter formulation, which the DuckDB oracles still
    use, so the 168-query parity sweep pins the equivalence): measured
    20x faster on the 200k-doc bench corpus (0.6 s vs 11.5 s for 8.2M
    tokens at local[32]) because it never materializes the rewritten
    string or the empty split fragments. This function is the hot inner
    loop of the whole text family — vocabulary, posting lists, TF-IDF,
    decontamination, fingerprints, quality — so the constant matters."""
    return F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9一-鿿]+"), 0)


def normalize_text(text: Column) -> Column:
    """Canonical text form for normalized dedup: lowercase, punctuation →
    space, whitespace runs collapsed, trimmed. Two documents differing
    only in case/punctuation/spacing normalize to the same string."""
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(text), WORD_RE, " "), " +", " "))


def normalized_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact dedup over the normalized text form: every document labeled
    with its group's canonical (minimum) id plus an ``is_dup`` flag.

    One window pass on the md5 of the normalized form — the same single
    shuffle shape as ``exact_dedup``, but robust to the formatting noise
    (case, punctuation, spacing) that makes byte-exact dedup miss near
    100% of real web duplicates."""
    from pyspark.sql import Window

    h = F.md5(normalize_text(F.col(text_col)))
    w = Window.partitionBy("norm_hash")
    return (
        df.select(F.col(id_col), h.alias("norm_hash"))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_dup", F.col(id_col) != F.col("canonical_id"))
    )


def global_row_number(
    df: DataFrame, *order: Column, rank_col: str = "rank", num_partitions: int | None = None
) -> DataFrame:
    """Global row_number over a total order WITHOUT the single-partition
    window (``Window.orderBy`` with no partitionBy funnels the whole
    relation through one task and caps at one executor's memory).

    Distributed shape: range-partition on the order (the same sampled
    exchange a global sort uses), per-partition ``row_number`` windows in
    parallel, then add each partition's cumulative row offset — computed
    from one tiny aggregate (``num_partitions`` rows to the driver, not
    data). Ranks are identical to the single-window form for any total
    order (ties must be broken by the order columns themselves).

    .. note:: EAGER — unlike most operators here this runs Spark jobs at
       call time (the repartition + per-partition-count collect) and
       leaves the range-partitioned input in a session-scoped cache (the
       returned plan reads it twice); the cache is evicted with the other
       scoped caches (replaced on the next call with the same scope key,
       see ``cacheutil.cache_scoped``). Don't assume lazy composition:
       call it on the final, filtered relation."""
    from pyspark.sql import Window

    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    part = df.repartitionByRange(num_partitions, *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    part = cache_scoped(part, f"global_rank_{rank_col}")
    sizes = sorted(
        (r["_pid"], r["n"])
        for r in part.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = {}, 0
    for pid, n in sizes:
        offsets[pid] = acc
        acc += n
    off = F.coalesce(
        F.element_at(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
            F.col("_pid"),
        ),
        F.lit(0),
    )
    w = Window.partitionBy("_pid").orderBy(*order)
    return (
        part.withColumn(rank_col, F.row_number().over(w) + off)
        .drop("_pid")
    )


def grouped_row_number(
    df: DataFrame,
    group_cols: list[str],
    *order: Column,
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group row_number WITHOUT ``Window.partitionBy(group)`` — the
    distributed form of a grouped rank for LOW-CARDINALITY groups (a
    handful of corpus sources, a few dataset splits), where a plain
    grouped window would put an entire group through ONE task: at 100 TB
    a single training-data source is tens of TB, far past any executor.

    Same technique as ``global_row_number``, stratified: range-partition
    on (group..., order...) so each group spans a contiguous RUN of
    partitions but no partition holds more than ~1/num_partitions of the
    data; rank within (partition, group) via parallel windows; then add
    each (partition, group)'s cumulative offset, computed from one tiny
    per-(pid, group) count aggregate (≤ num_partitions·n_groups rows to
    the driver) and broadcast-joined back. Ranks are identical to
    ``Window.partitionBy(*group_cols).orderBy(*order)`` for any per-group
    total order (ties must be broken by the order columns).

    .. note:: EAGER, like ``global_row_number`` — runs the repartition +
       count jobs at call time and caches the range-partitioned input
       under the scope key ``grouped_rank_{rank_col}``."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    gcols = [F.col(c) for c in group_cols]
    part = df.repartitionByRange(num_partitions, *gcols, *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    part = cache_scoped(part, f"grouped_rank_{rank_col}")
    counts = part.groupBy("_pid", *group_cols).agg(F.count("*").alias("_gn")).collect()
    per_group: dict[tuple, list[tuple[int, int]]] = {}
    for r in counts:
        per_group.setdefault(tuple(r[c] for c in group_cols), []).append(
            (r["_pid"], r["_gn"])
        )
    off_rows = []
    for key, lst in per_group.items():
        acc = 0
        for pid, n in sorted(lst):
            off_rows.append((pid, *key, acc))
            acc += n
    off_schema = T.StructType(
        [T.StructField("_pid", T.IntegerType(), False)]
        + [df.schema[c] for c in group_cols]
        + [T.StructField("_goff", T.LongType(), False)]
    )
    offsets = df.sparkSession.createDataFrame(off_rows, off_schema)
    # NULL-safe INNER join (ADVICE r7): plain equality would never match a
    # NULL group value to its offset row, silently restarting those rows'
    # ranks at 1 in every physical partition — eqNullSafe makes NULL one
    # ordinary group, matching Window.partitionBy semantics. INNER (not
    # left+coalesce) because every (pid, group) in `part` is in `counts`
    # by construction; a missing offset row (e.g. a _pid drift after cache
    # eviction) must surface as dropped rows in any count-checked caller,
    # not as silently wrong ranks.
    off = offsets.select(
        F.col("_pid").alias("_opid"),
        *[F.col(c).alias(f"_og{i}") for i, c in enumerate(group_cols)],
        "_goff",
    )
    cond = F.col("_pid") == F.col("_opid")
    for i, c in enumerate(group_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_og{i}"))
    w = Window.partitionBy("_pid", *group_cols).orderBy(*order)
    return (
        part.join(F.broadcast(off), cond, "inner")
        .withColumn(rank_col, F.row_number().over(w) + F.col("_goff"))
        .drop("_pid", "_opid", "_goff", *[f"_og{i}" for i in range(len(group_cols))])
    )


def vocabulary(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: per token, total occurrences, document
    frequency, and Zipf rank — the counting pass a BPE/WordPiece
    tokenizer trainer runs before merging, and the df table an IDF
    weighting needs.

    One explode + one groupBy with map-side partial aggregation; the Zipf
    rank uses ``global_row_number`` (range partition + per-partition
    windows + offsets), so a 10^7-token vocabulary never funnels through
    a single task (ADVICE r3). Inherits ``global_row_number``'s EAGER
    behavior: calling this runs the partition-count jobs immediately."""
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    counts = tok.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct(id_col).alias("n_docs"),
    )
    return global_row_number(
        counts, F.col("n_occurrences").desc(), F.col("token").asc()
    )


def _nsize(arr: Column) -> Column:
    """Null-safe F.size: NULL array → NULL (Spark returns -1 with ANSI
    off, which would diverge from the SQL oracles' len(NULL) → NULL)."""
    return F.when(arr.isNotNull(), F.size(arr))


def token_count(text: Column) -> Column:
    """Whitespace token count (the cheap proxy for tokenizer cost);
    NULL text → NULL."""
    return _nsize(tokens(text))


def bpe_ish_piece_count(text: Column) -> Column:
    """A BPE-flavored piece count: alnum runs + each punctuation mark counts
    as one piece (regex approximation of subword splitting)."""
    # explicit whitespace class: Java \s includes \x0B, RE2 \s does not —
    # spelling it out keeps Spark and the DuckDB oracle identical
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]"), 0)
    )


def stopword_ratio_from_tokens(
    toks: Column, stopwords: tuple[str, ...] = ENGLISH_STOPWORDS
) -> Column:
    """Stopword ratio over an already-materialized token array column —
    pass a plain column reference so the tokenizer runs once per row, not
    once per feature expression (see ``word_ngrams``'s inlining warning)."""
    n_stop = _nsize(F.filter(toks, lambda t: t.isin(*stopwords)))
    return n_stop.cast("double") / F.greatest(_nsize(toks), F.lit(1)).cast("double")


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = ENGLISH_STOPWORDS) -> Column:
    return stopword_ratio_from_tokens(tokens(text), stopwords)


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, "[a-zA-Z0-9 \\t\\n\\x0B\\f\\r]", ""))
    return n_punct.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def filter_once(df: DataFrame, predicate: Column, cols: list[str]) -> DataFrame:
    """Filter on expensively-derived columns with guaranteed single
    evaluation of the deriving expressions.

    Catalyst's predicate pushdown substitutes column aliases into the
    pushed condition with no cost guard: filtering on ``quality_score``
    re-ran the regex tokenizer ~12× per row inside the scan predicate
    (measured 1.7 s vs 0.44 s unfiltered at sf0.1 — the filter tripled
    the query). A nondeterministic barrier column gets pruned away as
    unused, so the robust barrier is a Generate node:
    ``explode(array(struct(cols)))`` evaluates the projection exactly
    once per row, and predicates cannot be substituted through Generate —
    the filter then reads plain struct fields. Same one-scan pipeline
    shape, no shuffle, works at any scale."""
    gen = df.select(F.explode(F.array(F.struct(*cols))).alias("_row"))
    return gen.select("_row.*").filter(predicate)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + a composite score in [0, 1].

    The token array is materialized ONCE into a projection and every
    feature reads the array column: inlining ``tokens(text)`` into each
    feature expression re-runs the regex tokenizer per feature per row
    (~6× the scan cost on a 100 TB documents table)."""
    toksed = df.select("*", tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    n_tok = _nsize(toks)
    n_chars = F.length(F.col(text_col))
    avg_word_len = F.when(n_tok > 0, (n_chars - n_tok + 1).cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0))
    sw_ratio = stopword_ratio_from_tokens(toks)
    p_ratio = punct_ratio(F.col(text_col))
    length_ok = (n_tok >= 20) & (n_tok <= 1000)
    score = (
        F.when(length_ok, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when((sw_ratio > 0.01) & (sw_ratio < 0.6), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(p_ratio < 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
    )
    return toksed.select(
        *[c for c in df.columns],
        n_tok.alias("n_tokens"),
        avg_word_len.alias("avg_word_len"),
        sw_ratio.alias("stopword_ratio"),
        p_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


def lang_scores_from_tokens(toks: Column) -> list[Column]:
    """Per-language scores over an already-materialized token array —
    one tokenizer pass feeds all languages instead of one pass each."""
    return [
        _nsize(F.filter(toks, lambda t: t.isin(*words))).alias(f"score_{lang}")
        for lang, words in sorted(LANG_STOPWORDS.items())
    ]


def detect_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hits, ties
    broken by language code ascending; no hits at all → 'und'."""
    toksed = df.select("*", tokens(F.col(text_col)).alias("_toks"))
    scored = toksed.select(
        *[c for c in df.columns], *lang_scores_from_tokens(F.col("_toks"))
    )
    langs = sorted(LANG_STOPWORDS.keys())
    # build structs (score, neg-ordered lang) and take greatest by score,
    # preferring the lexicographically smallest lang on ties
    pairs = F.array(
        *[F.struct(F.col(f"score_{code}").alias("s"), F.lit(code).alias("lang")) for code in langs]
    )
    best = F.array_max(
        F.transform(
            pairs,
            lambda p: F.struct(
                p["s"].alias("s"),
                # invert the lang for tie-break: max(struct) picks highest s,
                # then highest inverted lang == lowest lang
                F.translate(p["lang"], "abcdefghijklmnopqrstuvwxyz", "zyxwvutsrqponmlkjihgfedcba").alias("inv"),
                p["lang"].alias("lang"),
            ),
        )
    )
    return scored.withColumn(
        "detected_lang", F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und"))
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams (space-joined) from an ALREADY-MATERIALIZED token array
    column. The argument must be a plain column reference, not the
    ``tokens(...)`` expression tree: Catalyst inlines expression arguments
    into every ``element_at`` call inside the lambda, which would re-run
    tokenization O(tokens × n) times per row."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def fingerprint(df: DataFrame, id_col: str, text_col: str = "text", ngram: int = 2) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum md5 over the
    document's word n-grams — robust to word order at the edges, cheap,
    and identical across engines (md5 hex compares lexicographically)."""
    toksed = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    grams = F.transform(word_ngrams(F.col("toks"), ngram), F.md5)
    return toksed.select(
        F.col(id_col),
        F.array_min(grams).alias("fingerprint"),
    )


# PII patterns deliberately restricted to regex features with identical
# semantics in Java regex (Spark) and RE2 (DuckDB/Go): character classes,
# bounded quantifiers, \b word boundaries — no lookarounds, no backrefs.
# Order matters: SSN before PHONE (both are digit-dash shapes).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b(?:\+?[0-9]{1,2}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def scrub_pii(text: Column) -> Column:
    """Replace common PII shapes (emails, SSNs, phone numbers, IPv4) with
    typed placeholder tokens. Pure regexp_replace chain — whole-stage
    codegen, linear over a 100 TB corpus, no Python."""
    out = text
    for _, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(text: Column) -> list[Column]:
    """Per-category PII match counts (audit columns), same patterns as
    ``scrub_pii``; NULL text → NULL counts."""
    return [
        F.when(
            text.isNotNull(), F.size(F.regexp_extract_all(text, F.lit(pattern), 0))
        ).alias(f"n_{name}")
        for name, pattern, _ in PII_PATTERNS
    ]


def rolling_hash_fingerprint(
    df: DataFrame, id_col: str, text_col: str = "text", modulus: int = 2**31
) -> DataFrame:
    """Order-sensitive document fingerprint: a Rabin-Karp-style rolling
    hash chained over the token stream (``acc*31 + h(token) mod 2^31``),
    where h is the first 32 bits of the token's md5.

    Complements ``fingerprint`` (min-hash over n-grams, order-robust):
    the rolling hash changes when token ORDER changes, so it detects
    reorderings the winnowing fingerprint ignores. All integer math stays
    below 2^36 — identical wrap-free semantics on every engine."""
    toksed = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    vals = F.transform(
        F.col("toks"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    rolled = F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * 31 + x, F.lit(modulus)),
    )
    return toksed.select(F.col(id_col), rolled.alias("rolling_hash"))


def tf_idf_top_terms(
    df: DataFrame, id_col: str, text_col: str = "text", top_k: int = 3
) -> DataFrame:
    """Per-document top-k distinctive terms with smoothed TF-IDF scores.

    tfidf = tf * (ln((N+1)/(df+1)) + 1) — the scikit-learn smoothing. Two
    shuffles total: one groupBy for per-doc term frequencies, one for
    document frequencies; the corpus size joins in as a broadcast 1-row
    aggregate (no driver collect). Ranking uses the exact integer key
    (tf DESC, df ASC, token ASC) rather than the float score, so the
    selected rows are reproducible across engines even where two log
    results differ in the last ulp; the float tfidf is reported rounded
    as a score column.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    # tf is cached: it feeds both the score join and the document
    # frequencies, and df derives FROM tf (one row per (doc, token), so a
    # plain count per token IS the distinct-doc count) — one tokenize +
    # explode pass over the corpus instead of two, and the df aggregate
    # runs over the compact tf relation rather than the raw token stream
    tf = cache_scoped(
        tok.groupBy(id_col, "token").agg(F.count("*").alias("tf")), "tfidf_tf"
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select(id_col, "token", "tf", "df", "tfidf", "rnk")
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    top_k: int = 8,
    threshold: float = 0.3,
    max_token_docs: int | None = 64,
) -> DataFrame:
    """Sparse TF-IDF document-similarity join: each document reduces to
    its ``top_k`` distinctive terms, pairs generate via an equi-join on
    the shared TERM (two docs with disjoint top-terms never pair — the
    sparse-vector analogue of the shingle/LSH bucket discipline), and
    cosine evaluates over the shared terms only.

    The topical-similarity complement to the lexical family: Jaccard /
    containment need literal n-gram overlap; TF-IDF cosine pairs
    documents that discuss the same distinctive vocabulary with
    different phrasing — and unlike embedding cosine it needs no model.

    Engine-exact: term weights are MILLI-quantized BIGINTs
    (``ROUND(tfidf·1000)`` — tfidf itself is ln-based rounded at 6
    places, the established cross-engine-stable form), the numerator is
    an exact BIGINT sum (weights ≤ ~1e7 even for degenerate 1e5-token
    repeats, so Σ over top_k products stays < 2^50 — no overflow at any
    corpus size), and the norms are double sqrt of exact integer sums.

    ``max_token_docs`` is the hot-term guard (``max_bucket`` discipline,
    ON by default — pass ``None`` to disable, matching the
    ``cosine_pairs``/``repeated_spans`` precedent):
    a term that is top-k-distinctive for more than K documents — corpus
    boilerplate that survived IDF — is dropped from PAIRING, capping the
    equi-join fan-out at K² per term.

    Output: (id_a, id_b, n_shared_terms, cosine) with cosine ≥ threshold."""
    top = tf_idf_top_terms(df, id_col, text_col, top_k=top_k)
    w = cache_scoped(
        top.select(
            F.col(id_col),
            "token",
            F.round(F.col("tfidf") * 1000).cast("long").alias("w"),
        ),
        "tfidf_pair_weights",
    )
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    pairing = w
    if max_token_docs is not None:
        # window count over the token key — the same shuffle the pair
        # join below needs, so the guard is ~free and the join reuses
        # the partitioning (the groupBy + semi-join-back form paid two
        # extra string-key shuffles; see containment_pairs, r9)
        from pyspark.sql import Window

        win = Window.partitionBy("token")
        pairing = (
            w.withColumn("_df", F.count("*").over(win))
            .filter(F.col("_df") <= max_token_docs)
            .drop("_df")
        )
    a = pairing.select(F.col(id_col).alias("id_a"), "token", F.col("w").alias("wa"))
    b = pairing.select(F.col(id_col).alias("id_b"), "token", F.col("w").alias("wb"))
    num = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_shared_terms"),
            F.sum(F.col("wa") * F.col("wb")).alias("_num"),
        )
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("nrm").alias("_na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("nrm").alias("_nb"))
    return (
        num.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared_terms",
            F.round(
                F.col("_num").cast("double") / (F.col("_na") * F.col("_nb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# Gopher quality rules (Rae et al. 2021, "Scaling Language Models: ...
# Gopher", §A1.1 data pipeline) — the published heuristic filter suite a
# production pretraining pipeline runs ahead of dedup. The 8 required
# function words of the original rule set:
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

# explicit char classes (not \s / \d) so the Java regex engine and the
# DuckDB RE2 oracle agree byte-for-byte
_BULLET_RE = "^[ \\t]*[-*•]"
_ELLIPSIS_RE = "(\\.\\.\\.|…)[ \\t]*$"


def gopher_features(
    df: DataFrame, text_col: str = "text", min_stop_hits: int = 2
) -> DataFrame:
    """Gopher-style quality rule features + per-rule flags + the overall
    ``passes_gopher`` verdict.

    Rules (thresholds per the paper): word count in [50, 100 000]; mean
    word length in [3, 10]; symbol-to-word ratio (#, ..., …) < 0.1;
    < 90% of lines bullet-led; < 30% of lines ellipsis-terminated;
    ≥ 80% of words contain a letter; ≥ ``min_stop_hits`` of the 8
    required stopwords present (paper default 2; corpora with a
    restricted vocabulary may need 1 for the rule to discriminate).

    Shape: one projection — token array, raw whitespace words, and line
    array each materialized exactly ONCE (same single-scan discipline as
    ``quality_features``; inlining would re-run the regex splits per
    feature). All counts are exact integers; ratios divide exact ints as
    doubles, so the DuckDB oracle reproduces every value bit-for-bit.
    Scales linearly: no shuffle, no UDF, whole-stage codegen end-to-end."""
    txt = F.col(text_col)
    base = df.select(
        "*",
        tokens(txt).alias("_toks"),
        # maximal non-whitespace runs via ONE extract_all — same stream
        # as split-on-whitespace + drop-empties (the oracle's form), and
        # the same 20x constant-factor win as tokens()
        F.regexp_extract_all(txt, F.lit("[^ \\t\\n\\r]+"), 0).alias("_raw"),
        F.split(txt, "\\n").alias("_lines"),
    )
    toks, raw, lines = F.col("_toks"), F.col("_raw"), F.col("_lines")
    n_words = _nsize(toks)
    n_lines = F.size(lines)
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    mean_word_len = F.when(
        n_words > 0, sum_len.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_symbols = F.size(F.regexp_extract_all(txt, F.lit("#|\\.\\.\\.|…"), 0))
    symbol_ratio = n_symbols.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    bullet_ratio = (
        F.size(F.filter(lines, lambda l: l.rlike(_BULLET_RE))).cast("double")
        / F.greatest(n_lines, F.lit(1)).cast("double")
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda l: l.rlike(_ELLIPSIS_RE))).cast("double")
        / F.greatest(n_lines, F.lit(1)).cast("double")
    )
    alpha_ratio = (
        F.size(F.filter(raw, lambda w: w.rlike("[a-zA-Z]"))).cast("double")
        / F.greatest(F.size(raw), F.lit(1)).cast("double")
    )
    stop_hits = sum(
        (F.when(F.array_contains(toks, s), 1).otherwise(0) for s in GOPHER_STOPWORDS),
        F.lit(0),
    ).cast("int")
    flags = {
        "ok_word_count": (n_words >= 50) & (n_words <= 100_000),
        "ok_word_len": (mean_word_len >= 3.0) & (mean_word_len <= 10.0),
        "ok_symbols": symbol_ratio < 0.1,
        "ok_bullets": bullet_ratio < 0.9,
        "ok_ellipses": ellipsis_ratio < 0.3,
        "ok_alpha": alpha_ratio > 0.8,
        "ok_stopwords": stop_hits >= min_stop_hits,
    }
    passes = None
    for c in flags.values():
        passes = c if passes is None else (passes & c)
    return base.select(
        *[c for c in df.columns],
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        stop_hits.alias("stop_hits"),
        *[expr.alias(name) for name, expr in flags.items()],
        passes.alias("passes_gopher"),
    )


def unigram_rarity(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    rare_max_count: int = 2,
) -> DataFrame:
    """Corpus-relative unigram rarity score per document — the
    deterministic stand-in for a unigram-LM log-prob quality filter
    (an avg-log-prob score needs libm ``log``, whose last-ulp rounding
    differs across engines; mean corpus frequency and rare-token ratio
    rank documents the same way and stay bit-exact).

    Two passes over the tokenized corpus: (1) global token counts
    (groupBy token — one shuffle with map-side partial aggregation),
    (2) re-join counts onto the exploded tokens (equi-join on token) and
    re-aggregate per document. At 100 TB the token-count relation is
    orders of magnitude smaller than the corpus but can exceed broadcast
    size, so the join stays a shuffle join and lets AQE pick broadcast
    when the vocabulary is small. Documents with zero tokens have no
    rows after explode and drop out (same inner semantics as the SQL
    oracle)."""
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    tok = cache_scoped(tok, "unigram_tok")
    counts = tok.groupBy("token").agg(F.count("*").alias("_c"))
    joined = tok.join(counts, "token")
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        (F.sum("_c").cast("double") / F.count("*").cast("double")).alias(
            "mean_token_freq"
        ),
        (
            F.sum(F.when(F.col("_c") <= rare_max_count, 1).otherwise(0)).cast("double")
            / F.count("*").cast("double")
        ).alias("rare_ratio"),
    )


def bigram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document perplexity under a corpus-trained bigram language
    model with absolute discounting and continuation fallback — the
    LM-based quality filter (CCNet-style: low perplexity ≈ fluent text,
    high ≈ noise) trained on the corpus itself, so every scored bigram
    is in-vocabulary and no probability is zero:

        p(w2 | w1) = (c(w1,w2) - d) / c(w1·)
                     + (d · N1+(w1·) / c(w1·)) · (N1+(·w2) / B)

    with c from corpus bigram counts, N1+ the distinct-continuation /
    distinct-left-context counts, B the number of distinct bigram types,
    and d the discount.

    Engine-exact aggregation: each bigram's negative log-probability is
    quantized to integer micro-nats BEFORE summing (doubles sum in
    shuffle order, integers commute), so the per-doc total is
    order-independent and the oracle can reproduce it bit-for-bit; only
    the final perplexity applies exp, rounded to 4 places.

    Scale: the model relations are distinct-bigram-sized (orders of
    magnitude below the corpus); scoring re-joins them onto the corpus
    bigrams with an equi-join on the bigram key — AQE may broadcast the
    model when the vocabulary is small, and nothing in the plan is
    quadratic. Documents with fewer than two tokens have no bigrams and
    drop out (inner semantics, like ``unigram_rarity``)."""
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w1"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    bg = (
        tok.withColumn("w2", F.lead("w1").over(w))
        .filter(F.col("w2").isNotNull())
        .select(id_col, "w1", "w2")
    )
    bg = cache_scoped(bg, "bigram_lm")
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c12 = cache_scoped(c12, "bigram_lm_counts")
    left = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("nafter")
    )
    right = c12.groupBy("w2").agg(F.count("*").alias("nleft"))
    total = c12.agg(F.count("*").cast("double").alias("B"))
    d = float(discount)
    prob = (
        c12.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            (
                (F.col("c12").cast("double") - F.lit(d)) / F.col("c1").cast("double")
                + (F.lit(d) * F.col("nafter").cast("double") / F.col("c1").cast("double"))
                * (F.col("nleft").cast("double") / F.col("B"))
            ).alias("p"),
        )
        .withColumn(
            "nll_micro", F.round(-F.log(F.col("p")) * F.lit(1e6)).cast("long")
        )
    )
    return (
        bg.join(prob, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("nll_micro").cast("long").alias("nll_micro"),
        )
        .select(
            id_col,
            "n_bigrams",
            "nll_micro",
            F.round(
                F.exp(
                    F.col("nll_micro").cast("double")
                    / F.lit(1e6)
                    / F.col("n_bigrams").cast("double")
                ),
                4,
            ).alias("perplexity"),
        )
    )


def corpus_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Distribution drift between two corpus slices: per-token Jeffreys
    divergence contributions (symmetric KL) between the slices' additively
    smoothed unigram distributions — the monitor that catches a new
    ingest batch drifting away from the training distribution before it
    pollutes a mixture.

    Per token over the UNION vocabulary (so either-side-only tokens are
    covered by the smoothing mass):

        p_x(t) = (c_x(t) + α) / (N_x + α·|V|)
        j(t)   = p_a·ln(p_a/p_b) + p_b·ln(p_b/p_a)   ≥ 0

    ``j`` is quantized to integer nano-nats so slice totals sum
    engine-exactly (``SUM(jeffreys_nano)`` is the corpus-level Jeffreys
    divergence); per-token rows rank the movers.

    Scale: two token-count aggregates (corpus-sized scans, vocab-sized
    outputs), one full-outer join on token, a 1-row binding aggregate for
    (N_a, N_b, |V|) broadcast back — nothing above vocab-sized moves
    after the counts."""
    ca = (
        df_a.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c_a"))
    )
    cb = (
        df_b.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c_b"))
    )
    both = ca.join(cb, "token", "full_outer").select(
        "token",
        F.coalesce(F.col("c_a"), F.lit(0)).cast("long").alias("c_a"),
        F.coalesce(F.col("c_b"), F.lit(0)).cast("long").alias("c_b"),
    )
    both = cache_scoped(both, "corpus_drift_counts")
    totals = both.agg(
        F.sum("c_a").cast("double").alias("n_a"),
        F.sum("c_b").cast("double").alias("n_b"),
        F.count("*").cast("double").alias("v"),
    )
    a = float(alpha)
    p_a = (F.col("c_a").cast("double") + F.lit(a)) / (
        F.col("n_a") + F.lit(a) * F.col("v")
    )
    p_b = (F.col("c_b").cast("double") + F.lit(a)) / (
        F.col("n_b") + F.lit(a) * F.col("v")
    )
    return both.crossJoin(F.broadcast(totals)).select(
        "token",
        "c_a",
        "c_b",
        F.round(
            (p_a * F.log(p_a / p_b) + p_b * F.log(p_b / p_a)) * F.lit(1e9)
        )
        .cast("long")
        .alias("jeffreys_nano"),
    )


def posting_lists(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_postings: int = 32,
) -> DataFrame:
    """Capped inverted index: per token, document frequency plus the top
    ``max_postings`` postings ranked by term frequency (ties broken by
    ascending doc id) — the search/retrieval primitive over a curated
    corpus.

    The cap is the 100 TB guard: stop-word-like tokens would otherwise
    produce posting lists the size of the corpus in a single aggregation
    task. Ranking runs as a window over the (token, doc) TF relation
    (one shuffle on token, skew bounded by the rank<=k filter BEFORE the
    list aggregation), and ``df`` keeps the TRUE document frequency even
    where the list is truncated."""
    from pyspark.sql import Window

    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token", id_col)
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("token").orderBy(F.desc("tf"), F.asc(id_col))
    ranked = tf.withColumn("rnk", F.row_number().over(w))
    docfreq = tf.groupBy("token").agg(F.count("*").cast("long").alias("doc_freq"))
    top = (
        ranked.filter(F.col("rnk") <= max_postings)
        .groupBy("token")
        .agg(
            F.array_sort(F.collect_list(F.struct("rnk", id_col, "tf"))).alias("_ps")
        )
        .select(
            "token",
            F.transform(
                F.col("_ps"),
                lambda s: F.concat_ws(":", s[id_col].cast("string"), s["tf"].cast("string")),
            ).alias("_pieces"),
        )
        .select("token", F.array_join(F.col("_pieces"), " ").alias("postings"))
    )
    return docfreq.join(top, "token")


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    threshold_num: int = 1,
    threshold_den: int = 200,
    counters_per_partition: int | None = None,
) -> DataFrame:
    """EXACT corpus heavy hitters — every token whose global frequency is
    ≥ ``threshold_num/threshold_den`` of all token occurrences — via the
    bounded-shuffle two-phase pattern (propose → verify, same contract as
    ``dedup_minhash_verified``):

    **Phase 1 (propose)**: one Arrow-batched ``mapInPandas`` pass runs a
    Misra-Gries summary per partition (``m`` counters, merged batch-wise
    with the Agarwal-et-al mergeable-summaries rule: pointwise add, then
    subtract the (m+1)-th largest count and drop non-positives). MG
    guarantees any token with partition count > n_p/(m+1) survives; a
    token with GLOBAL share ≥ f has ≥ f share in at least one partition
    (averaging argument), so with m ≥ den/num the union of survivors is a
    SUPERSET of the true heavy hitters — no false negatives, proven by
    ``test_heavy_hitters_no_false_negatives``. Each partition also emits
    its token count, so the corpus total N needs no extra scan.

    **Phase 2 (verify)**: exact counts of ONLY the candidate set — a
    broadcast semi-join onto the token stream, then one hash aggregate
    whose shuffle carries ≤ (partitions × m) distinct keys instead of the
    full vocabulary. The threshold compare is integer-exact
    (``count·den ≥ N·num`` in BIGINT — no float epsilon), so the result
    hash-matches a plain SQL oracle bit-for-bit.

    Scale: the whole point. A naive global groupBy shuffles the entire
    long-tail vocabulary (O(distinct tokens) keys — billions at 100 TB);
    here the shuffle is bounded by the MG summaries regardless of corpus
    size, and the verify scan is colocated with the (tiny, broadcast)
    candidate list. Two corpus scans, O(partitions·m) shuffled rows.

    Output: (token, n_occurrences, corpus_share) for qualifying tokens.
    """
    import pandas as pd

    if counters_per_partition is None:
        # m ≥ den/num makes phase 1 a no-false-negative superset; 2× headroom
        counters_per_partition = 2 * -(-threshold_den // threshold_num)
    m = int(counters_per_partition)
    if m * threshold_num < threshold_den:
        raise ValueError(
            f"counters_per_partition={m} < den/num="
            f"{threshold_den}/{threshold_num}: phase 1 could miss true "
            "heavy hitters"
        )

    tok = df.select(F.explode(tokens(F.col(text_col))).alias("token"))

    def mg(batches):
        # tokenize IN pandas (vectorized str ops; the regex is WORD_RE
        # verbatim, so parity with the JVM tokens() column holds — after
        # the replace the only whitespace left is ' ', making bare
        # .str.split() equivalent to split-on-space-drop-empties) so the
        # Arrow transfer ships one row per DOCUMENT, not per token: the
        # propose scan moved ~40x fewer rows in the 200k-doc bench
        counts: dict[str, int] = {}
        n_p = 0
        for pdf in batches:
            s = (
                pdf[text_col]
                .dropna()
                .str.lower()
                .str.replace(WORD_RE, " ", regex=True)
                .str.split()
                .explode()
                .dropna()
            )
            n_p += len(s)
            for t, c in s.value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
            if len(counts) > m:
                vals = sorted(counts.values(), reverse=True)
                d = vals[m]
                counts = {k: v - d for k, v in counts.items() if v > d}
        yield pd.DataFrame(
            {
                "token": list(counts) + [None],
                "part_n": [0] * len(counts) + [n_p],
            }
        )

    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    # the summary is tiny (≤ partitions·(m+1) rows) but costs a full
    # corpus scan — cache it so the total and the candidate list don't
    # each re-run phase 1
    summary = cache_scoped(
        df.select(text_col).mapInPandas(mg, schema="token string, part_n long"),
        "text_heavy_hitters_summary",
    )
    total = summary.agg(F.sum("part_n").alias("_N"))
    cands = summary.filter(F.col("token").isNotNull()).select("token").distinct()
    counts = (
        tok.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(
            F.col("n_occurrences") * F.lit(int(threshold_den))
            >= F.col("_N") * F.lit(int(threshold_num))
        )
        .select(
            "token",
            "n_occurrences",
            (F.col("n_occurrences").cast("double") / F.col("_N").cast("double")).alias(
                "corpus_share"
            ),
        )
    )


def normalize_nfc(col: Column) -> Column:
    """Unicode NFC normalization — the curation-pipeline canonical form:
    the same visible text arrives from different crawls/encoders as
    composed OR decomposed codepoint sequences (e.g. ``é`` vs
    ``e`` + U+0301), and every downstream hash key (exact dedup,
    fingerprints, URL/text joins) silently splits unless the corpus is
    normalized first. Spark has no built-in normalizer, so this is the
    module's one deliberate Python crossing: an Arrow-batched
    ``pandas_udf`` over ``unicodedata.normalize`` (stdlib, identical
    tables everywhere) — vectorized transfer, no per-row pickling, and
    the DuckDB oracle reproduces it exactly with ``nfc_normalize``."""
    from pyspark.sql.functions import pandas_udf

    def _nfc_batch(s):
        # pd.Series -> pd.Series. Hints deliberately omitted: this
        # module's `from __future__ import annotations` stringifies
        # them and the UDF type-inference cannot resolve a
        # function-local 'pd' name, so the positional (fn, type) form
        # selects the scalar eval type explicitly.
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return pandas_udf(_nfc_batch, "string")(col)


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon CHARACTER entropy in integer micro-nats —
    the distribution-flatness quality signal the Gopher/C4 rule suites
    lack: boilerplate, key-mashing, and template spam all collapse the
    character distribution (low entropy) or flatten it unnaturally
    (encrypted/binary junk, high entropy), while natural prose sits in
    a stable mid band per language. Cheap enough to run corpus-wide and
    orthogonal to the token-level signals (`quality_score`,
    `repetition_ratio`, the LM perplexity family — pair with those for
    the actual gate).

    Engine-exact by the lm_perplexity discipline: each distinct
    character contributes ``round(1e6 · ln(N/n_c) · n_c / N)`` — the
    term is quantized to integer micro-nats BEFORE the per-document
    sum, so the result is an exact integer in any engine and the DuckDB
    oracle replays it bit-for-bit (a libm last-ulp wobble would have to
    move a term across a 0.5 micro-nat boundary to flip anything).

    Output: one row per input document — (id, n_chars_seen,
    n_distinct_chars, entropy_micronats); text-less documents (NULL or
    empty) report zeros rather than vanishing. ln(2)·1e6 ≈ 693147
    micro-nats per bit of entropy.

    Scale shape: explode → two hash aggregates keyed on the doc id —
    partial aggregation combines map-side, the shuffle moves
    (doc, char) counts (≤ alphabet-size rows per doc), and no join
    bigger than the doc-count relation appears."""
    ch = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    per = ch.groupBy(id_col, "ch").agg(F.count("*").alias("n_c"))
    tot = per.groupBy(id_col).agg(
        F.sum("n_c").alias("_n"), F.count("*").alias("_d")
    )
    terms = per.join(tot, id_col).select(
        F.col(id_col),
        "_n",
        "_d",
        F.round(
            F.log(F.col("_n").cast("double") / F.col("n_c"))
            * F.col("n_c")
            / F.col("_n")
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("_m"),
    )
    ent = terms.groupBy(id_col, "_n", "_d").agg(
        F.sum("_m").alias("entropy_micronats")
    )
    return (
        df.select(id_col)
        .join(ent, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_chars_seen"),
            F.coalesce(F.col("_d"), F.lit(0)).cast("long").alias("n_distinct_chars"),
            F.coalesce(F.col("entropy_micronats"), F.lit(0))
            .cast("long")
            .alias("entropy_micronats"),
        )
    )

"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point — these run over ~10^9 documents):

- **exact**: one hash-partitioned groupBy on a digest of the dedup key —
  a single shuffle with map-side partial aggregation; the digest (md5)
  keeps shuffle rows narrow even for megabyte documents.
- **MinHash + LSH**: signatures are k min-aggregations over the exploded
  (doc, token) relation — one shuffle, partials combine map-side. Banding
  turns near-dup search into an equi-join on (band_index, band_hash): only
  documents sharing a band collide, so the candidate join is sparse and
  AQE's skew handling covers pathological buckets (e.g. boilerplate docs).
- **SimHash**: 64-bit signature via per-bit majority vote of token hashes —
  computed with explode + groupBy (one shuffle), emitted as a bit-string;
  near-dup candidates pair on band substrings of the signature.
- **n-gram Jaccard**: exact pairwise verification for candidate pairs —
  the expensive step, so it's meant to run AFTER LSH banding has pruned the
  pair space (verify_jaccard takes a candidate-pair DataFrame).

Hash choice: md5 (hex string) everywhere rather than xxhash64, trading a
few cycles for cross-engine determinism — the DuckDB oracles reproduce
every signature bit-for-bit. Swap HASH_FN to F.xxhash64 on a real cluster
for ~2× hash throughput (documented, not default, because oracle parity is
a first-class requirement here).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from muninn_avro_to_parquet_spark.operators.text import tokens, word_ngrams


from muninn_avro_to_parquet_spark.operators.cacheutil import (
    cache_scoped as _cache_scoped,
)


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact key; returns the surviving rows.

    Equivalent to ``dropDuplicates`` but deterministic about WHICH row
    survives (min id), which matters for reproducible corpus builds.

    The digest hashes the JSON encoding of the key struct: JSON escaping
    keeps NULL distinct from every string value (a coalesce-to-sentinel
    scheme would merge a real sentinel-valued key with NULL)."""
    from pyspark.sql import Window

    digest = F.md5(
        F.to_json(
            F.struct(*[F.col(c) for c in key_cols]), {"ignoreNullFields": "false"}
        )
    )
    # one window pass instead of groupBy+join-back: half the shuffles, and
    # NULL-id groups keep a representative (a min+equi-join would never
    # match a NULL minimum and silently delete the whole group)
    w = Window.partitionBy("_k").orderBy(F.col(id_col).asc_nulls_last())
    return (
        df.withColumn("_k", digest)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_k", "_rn")
    )


def doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct (id, token) pairs — the relation every sketch builds on."""
    return (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .distinct()
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str = "text", num_hashes: int = 16
) -> DataFrame:
    """MinHash signature: for seed i, min over tokens of md5(i ':' token).

    One explode + one groupBy (map-side combinable); signature columns are
    named mh00..mh{k-1}.

    The token relation is NOT deduplicated first: ``min`` is insensitive
    to duplicates, so the ``doc_tokens`` distinct — a full shuffle of the
    widest relation in the pipeline (every (doc, token) occurrence) —
    would buy nothing. The groupBy's map-side partial min combines
    duplicate tokens within a partition for free."""
    dt = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("token")))).alias(f"mh{i:02d}")
        for i in range(num_hashes)
    ]
    return dt.groupBy(id_col).agg(*aggs)


def minhash_bands(
    sig: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Fold the signature into LSH bands: (id, band_idx, band_hash).

    All bands come from ONE pass over the signature (array + explode) —
    a per-band unionAll would make Spark recompute the whole signature
    aggregation once per band."""
    if num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} — trailing "
            "signature columns would silently drop out of every band"
        )
    rows_per_band = num_hashes // bands
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|", *[f"mh{b * rows_per_band + r:02d}" for r in range(rows_per_band)]
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(entries).alias("e")).select(
        id_col, "e.band_idx", "e.band_hash"
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs: documents agreeing on ≥1 LSH band.

    The join is an equi-join on (band_idx, band_hash) — no cross product;
    ``id_a < id_b`` halves the output and distinct collapses multi-band
    agreement. The bands relation (4 narrow rows per doc — tiny next to
    the corpus) is cached so the self-join doesn't tokenize + sketch the
    corpus twice; AQE skew-join splits pathological buckets.

    ``max_bucket`` (off by default — it changes results) drops band
    buckets holding more than that many documents before pairing: a
    bucket of k docs emits k²/2 pairs, so one boilerplate bucket with
    10^6 members would emit 5·10^11 pairs. Production corpus dedup at
    10^9 docs needs this cap (the dropped buckets are near-universal
    boilerplate — worth logging, not pairing). The cap is one window
    count over the band key — the same shuffle the pair join needs
    anyway — not a separate aggregate + anti-join.

    ``distinct=False`` skips the final multi-band dedup shuffle for
    consumers that are insensitive to duplicate pairs (min-label
    connected components); keep the default for anything that counts or
    emits the pairs themselves."""
    from pyspark.sql import Window

    b = minhash_bands(
        minhash_signature(df, id_col, text_col, num_hashes), id_col, num_hashes, bands
    )
    if max_bucket is not None:
        w = Window.partitionBy("band_idx", "band_hash")
        b = (
            b.withColumn("_bucket_n", F.count("*").over(w))
            .filter(F.col("_bucket_n") <= max_bucket)
            .drop("_bucket_n")
        )
    b = _cache_scoped(b, "minhash_bands")
    left = b.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    right = b.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    out = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return out.distinct() if distinct else out


def ngram_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Tokens are materialized into a column before the n-gram transform —
    see ``word_ngrams``'s warning about Catalyst inlining the tokenizer
    into every element access otherwise."""
    toksed = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    grams = word_ngrams(F.col("toks"), n)
    return toksed.select(F.col(id_col), F.explode(grams).alias("shingle")).distinct()


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many distinct
    word n-grams it shares with a held-out evaluation set, plus a
    ``contaminated`` flag — the pre-training hygiene pass that keeps eval
    answers out of the training corpus.

    Scale: eval suites are thousands of documents, so the benchmark
    shingle set broadcasts; the corpus-side check is then a broadcast
    semi-join inside the scan (no corpus shuffle) followed by one
    aggregate on the hits. The hits relation is NOT broadcast back —
    its cardinality is the number of contaminated documents, which is
    unbounded (a heavily contaminated crawl could carry millions), so
    the final left join shuffles on id and AQE picks broadcast at
    runtime only when hits actually measures small. Output:
    (id, n_overlap, contaminated) for every corpus document.

    r14: the corpus side no longer routes through ``ngram_shingles``'s
    ``.distinct()`` — that exchanged EVERY corpus (id, shingle) row
    before the broadcast probe ever filtered anything (the curation
    report's stage walls put decontaminate at 2.07 s of its 4.5 s total,
    and this shuffle was it). The probe now runs on the raw exploded
    shingles and the per-document overlap is ``countDistinct`` — the
    only rows that reach an exchange are benchmark HITS, and the
    distinct moved into the two-phase aggregate where partials combine
    map-side. Same output by construction (the broadcast join is a
    filter on the shingle value, so distinct-then-filter ≡
    filter-then-count-distinct)."""
    bench = (
        ngram_shingles(benchmark, id_col, text_col, n).select("shingle").distinct()
    )
    toksed = corpus.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    grams = toksed.select(
        F.col(id_col), F.explode(word_ngrams(F.col("toks"), n)).alias("shingle")
    )
    hits = (
        grams.join(F.broadcast(bench), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("shingle")).alias("_n"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_n"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("_n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the bounded-broadcast
    form of :func:`decontaminate` for when even the benchmark's DISTINCT
    shingle set is too large to broadcast comfortably (a merged eval
    union at 100 TB). The benchmark compresses to its Bloom POSITION set:
    each shingle sets ``num_hashes`` positions in an ``m_bits``-slot
    filter, and the broadcast side is the distinct positions — **at most
    m_bits rows no matter how many benchmark documents exist**. A corpus
    shingle is flagged iff ALL of its positions are set, so the output is
    a deterministic SUPERSET of the exact operator's flags (false-positive
    rate ≈ (1 − e^(−k·n/m))^k, identical in every engine because the
    hash is md5-derived, not seeded): the standard two-phase hygiene
    pass runs this cheap prefilter corpus-wide, then exact
    ``decontaminate`` only over the flagged sliver.

    Engine-exact: position i of a shingle is
    ``conv(substr(md5(i || ':' || shingle), 1, 14), 16, 10) % m_bits``
    (56-bit hex prefix — fits BIGINT in Spark and DuckDB alike). Within
    one shingle two hash functions may collide on a position, so the
    all-set test compares against the DISTINCT position count, never
    ``num_hashes`` (a duplicate would otherwise read as a miss).

    Output: (id, n_flagged, contaminated) for every corpus document."""

    def positions(col):
        return F.array_distinct(
            F.array(
                *[
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{i}:"), col)), 1, 14
                        ),
                        16,
                        10,
                    ).cast("long")
                    % m_bits
                    for i in range(num_hashes)
                ]
            )
        )

    bench_pos = (
        ngram_shingles(benchmark, id_col, text_col, n)
        .select(F.explode(positions(F.col("shingle"))).alias("pos"))
        .distinct()
    )
    # deliberately distinct-FIRST here, unlike decontaminate() (r14): the
    # corpus side pays 4 md5 hashes per shingle row, so deduping
    # (id, shingle) before the position expansion minimizes the md5
    # work; a no-distinct variant with countDistinct verification was
    # measured 70% MORE cpu at sf0.1 (71.0 vs 41.7 executor-cpu-s on
    # the two-phase entry) — the hash expansion dominates the exchange
    # this shape keeps
    corp = ngram_shingles(corpus, id_col, text_col, n).select(
        F.col(id_col), "shingle", positions(F.col("shingle")).alias("_ps")
    )
    per_gram = (
        corp.select(
            id_col, "shingle", F.size("_ps").alias("_np"), F.explode("_ps").alias("pos")
        )
        .join(F.broadcast(bench_pos), "pos")
        .groupBy(id_col, "shingle", "_np")
        .agg(F.count("*").alias("_nhit"))
        .filter(F.col("_nhit") == F.col("_np"))
    )
    flagged = per_gram.groupBy(id_col).agg(F.count("*").alias("_nf"))
    return (
        corpus.select(id_col)
        .join(flagged, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_nf"), F.lit(0)).alias("n_flagged"),
            (F.coalesce(F.col("_nf"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_two_phase(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> DataFrame:
    """The production decontamination shape: Bloom prefilter corpus-wide,
    exact n-gram check only over the flagged sliver. Because the Bloom
    flags are a superset of the exact operator's (no false negatives —
    :func:`decontaminate_bloom`), the composition returns EXACTLY what
    :func:`decontaminate` would on the full corpus, while the expensive
    benchmark-shingle join touches only suspected documents — at 100 TB
    that sliver is typically orders of magnitude smaller than the corpus
    (contamination rates are per-mille), so phase 2's cost is negligible
    and phase 1 is a broadcast probe of a ≤ m_bits-row position set
    inside the scan. Phase 2 re-reads the suspects' text through a
    second (semi-join-filtered) corpus scan — at 100 TB either accept
    that scan or persist the flagged sliver's text during phase 1.
    Output contract identical to ``decontaminate``:
    (id, n_overlap, contaminated) for every corpus document."""
    flags = decontaminate_bloom(
        corpus, benchmark, id_col, text_col, n, m_bits, num_hashes
    )
    suspects = corpus.join(
        flags.filter(F.col("contaminated")).select(id_col), id_col
    )
    exact = decontaminate(suspects, benchmark, id_col, text_col, n)
    return (
        corpus.select(id_col)
        .join(exact, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
        )
    )


def incremental_dedup_flags(
    delta: DataFrame,
    corpus_bands: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
    delta_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup screening: flag each document of a NEW batch
    against an EXISTING corpus using the corpus's precomputed MinHash
    band relation — the daily-crawl maintenance path. At 100 TB you
    sketch the corpus once, persist the (id, band_idx, band_hash)
    relation (4 narrow rows per doc), and each increment only sketches
    ITSELF: the corpus text is never re-read, never re-tokenized.

    Semantics are exactly full-corpus LSH restricted to the delta: the
    ``max_bucket`` boilerplate cap counts the COMBINED (corpus ∪ delta)
    bucket population, so a batch that tips a bucket over the cap
    behaves identically to a from-scratch run over the union — the
    invariant that makes incremental results reproducible against a
    full recompute (and lets one oracle verify both).

    Per delta document: ``dup_vs_corpus`` (shares a band with any corpus
    doc), ``dup_in_delta`` (shares a band with a smaller-id batch doc —
    the greedy smaller-id-wins rule, so exactly one member of an
    intra-batch dup group survives), ``is_dup`` (either). Downstream
    appends ``NOT is_dup`` rows to the corpus and their bands to the
    band relation.

    Scale shape: one sketch pass over the delta only; the union + bucket
    window shuffles band-relation-sized rows; the corpus join is an
    equi-join on the band key. Output: every delta id, with flags.

    ``delta_bands`` passes a precomputed batch band relation in (callers
    like ``update_dedup_corpus`` sketch the batch once and reuse the
    relation for both screening and the ledger append)."""
    if delta_bands is None:
        delta_bands = minhash_bands(
            minhash_signature(delta, id_col, text_col, num_hashes),
            id_col,
            num_hashes,
            bands,
        )
    delta_bands = delta_bands.withColumn("_new", F.lit(True))
    old = corpus_bands.select(
        F.col(id_col), "band_idx", "band_hash", F.lit(False).alias("_new")
    )
    allb = delta_bands.unionByName(old)
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_idx", "band_hash")
        allb = (
            allb.withColumn("_bucket_n", F.count("*").over(w))
            .filter(F.col("_bucket_n") <= max_bucket)
            .drop("_bucket_n")
        )
    allb = _cache_scoped(allb, "incremental_bands")
    new_b = allb.filter(F.col("_new")).select(F.col(id_col), "band_idx", "band_hash")
    old_b = allb.filter(~F.col("_new")).select(
        F.col(id_col).alias("_oid"), "band_idx", "band_hash"
    )
    vs_corpus = (
        new_b.join(old_b, ["band_idx", "band_hash"]).select(id_col).distinct()
        .withColumn("_vs_corpus", F.lit(True))
    )
    in_delta = (
        new_b.select(F.col(id_col).alias("_ida"), "band_idx", "band_hash")
        .join(
            new_b.select(F.col(id_col).alias("_idb"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("_ida") < F.col("_idb"))
        .select(F.col("_idb").alias(id_col))
        .distinct()
        .withColumn("_in_delta", F.lit(True))
    )
    return (
        delta.select(id_col)
        .join(vs_corpus, id_col, "left")
        .join(in_delta, id_col, "left")
        .select(
            id_col,
            F.coalesce("_vs_corpus", F.lit(False)).alias("dup_vs_corpus"),
            F.coalesce("_in_delta", F.lit(False)).alias("dup_in_delta"),
            (
                F.coalesce("_vs_corpus", F.lit(False))
                | F.coalesce("_in_delta", F.lit(False))
            ).alias("is_dup"),
        )
    )


def fuzzy_pairs_multipass(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 2,
    blocks: list[F.Column] | None = None,
    max_block: int | None = None,
    regime: str = "auto",
) -> DataFrame:
    """Multi-pass blocked fuzzy join: union the candidates of SEVERAL
    blocking keys, so a pair is only lost if the edit breaks EVERY key —
    the recall fix for single-pass blocking's blind spot (a typo in the
    block token itself). Default passes: lowercased first token and
    lowercased last token; pass any Column list for domain keys.

    Each pass is the same equi-join shape as ``fuzzy_pairs_blocked``
    (never a cross product, ``max_block`` guard per pass); the union
    dedups on the pair id — distance is a pure function of the two
    texts, so duplicate pair rows across passes agree and
    ``dropDuplicates`` on the ids alone is safe. Pass count is a small
    constant: cost is additive per pass, not multiplicative. ``regime``
    is forwarded to every pass (see ``fuzzy_pairs_blocked``)."""
    if blocks is None:
        toks = F.split(F.col(text_col), " ")
        blocks = [F.lower(toks[0]), F.lower(F.element_at(toks, -1))]
    if not blocks:
        raise ValueError("fuzzy_pairs_multipass needs at least one blocking key")
    # score INSIDE each pass, dedup only the verified pairs: deduping
    # raw candidates first was measured 2.8x SLOWER at sf0.1 (the
    # dropDuplicates shuffle then moves every candidate pair with both
    # texts; verified pairs are orders of magnitude fewer, and the
    # thresholded DP makes re-scoring a shared candidate cheap)
    out = None
    for blk in blocks:
        p = fuzzy_pairs_blocked(
            df, id_col, text_col, max_distance=max_distance,
            block=blk, max_block=max_block, regime=regime,
        )
        out = p if out is None else out.unionByName(p)
    return out.dropDuplicates(["id_a", "id_b"])


def update_dedup_corpus(
    spark,
    bands_dir: str,
    batch: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
    batch_id: str | None = None,
) -> DataFrame:
    """Maintain a PERSISTED dedup corpus across arriving batches — the
    continuous-corpus counterpart of ``incremental_dedup_flags``. The
    band ledger at ``bands_dir`` is the corpus's entire dedup state
    (4 narrow rows per kept doc; the corpus text is never re-read):

    1. screen ``batch`` against every band batch already in the ledger,
    2. append the KEPT documents' bands under an immutable
       ``batch=<id>/`` subdir (only survivors enter the ledger, so a
       later near-copy of a dropped doc still collides with the KEPT
       representative, not the dropped one),
    3. return the per-document flag relation.

    Idempotent per ``batch_id``: re-processing a batch whose subdir
    already exists recomputes the flags (screening EXCLUDES the batch's
    own ledger entry — otherwise every doc would collide with itself)
    but never double-appends — the at-least-once safety the streaming
    converter's ack ledger assumes of its per-batch work. ``batch_id``
    defaults to a content-independent sequence number, so supply the
    converter's own batch id when wiring into ``poll_once``.

    Sketches the batch ONCE (the same band relation screens and then
    lands in the ledger)."""
    from muninn_avro_to_parquet_spark import fs

    base = bands_dir.rstrip("/")
    existing = fs.list_subdirs(base) if fs.exists(base) else []
    if batch_id is None:
        batch_id = str(len(existing))
    this_dir = f"{base}/batch={batch_id}"
    prior = [d for d in existing if not d.rstrip("/").endswith(f"batch={batch_id}")]
    batch_bands = _cache_scoped(
        minhash_bands(
            minhash_signature(batch, id_col, text_col, num_hashes),
            id_col,
            num_hashes,
            bands,
        ),
        "update_corpus_batch_bands",
    )
    if prior:
        corpus_bands = spark.read.parquet(*prior)
    else:
        corpus_bands = batch_bands.limit(0)
    flags = incremental_dedup_flags(
        batch,
        corpus_bands,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        max_bucket=max_bucket,
        delta_bands=batch_bands,
    )
    if not fs.exists(f"{this_dir}/_SUCCESS"):
        kept = flags.filter(~F.col("is_dup")).select(id_col)
        batch_bands.join(kept, id_col, "left_semi").write.mode(
            "overwrite"
        ).parquet(this_dir)
    return flags


def source_overlap_matrix(
    df: DataFrame,
    stratum_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Cross-subcorpus n-gram overlap matrix: for every pair of strata
    (sources, dumps, domains), how many distinct word n-grams they
    share and the shingle-set Jaccard — the observability view that
    tells you BEFORE training that two crawls are 40% the same corpus,
    or that a "held-out" source leaks into the training mix.

    Scale shape: one distinct over (stratum, shingle) — the relation is
    bounded by vocabulary × strata, not by corpus size — then a
    self-equi-join on the shingle. A shingle appearing in k strata emits
    k²/2 pair rows, and k is bounded by the NUMBER OF STRATA (tens),
    not by document count, so the join output is at most
    |shingles| · |strata|²/2 — no cap needed, unlike document-level
    pair generation. Jaccard divides two exact longs in double, same
    operand order in any engine.

    Output: (stratum_a, stratum_b, n_shared, n_a, n_b, jaccard) for
    every stratum pair that shares at least one shingle."""
    sh = _cache_scoped(
        df.select(F.col(stratum_col), tokens(F.col(text_col)).alias("toks"))
        .select(F.col(stratum_col), F.explode(word_ngrams(F.col("toks"), n)).alias("shingle"))
        .distinct(),
        "overlap_shingles",
    )
    sizes = sh.groupBy(stratum_col).agg(F.count("*").alias("n_sh"))
    left = sh.select(F.col(stratum_col).alias("stratum_a"), "shingle")
    right = sh.select(F.col(stratum_col).alias("stratum_b"), "shingle")
    shared = (
        left.join(right, "shingle")
        .filter(F.col("stratum_a") < F.col("stratum_b"))
        .groupBy("stratum_a", "stratum_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col(stratum_col).alias("stratum_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(stratum_col).alias("stratum_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "stratum_a")
        .join(F.broadcast(sb), "stratum_b")
        .select(
            "stratum_a",
            "stratum_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.

    At corpus scale this runs on LSH-pruned candidates; standalone it is
    still shuffle-efficient: the self-join is an equi-join on the shingle
    value, so disjoint documents never pair. The shingle relation feeds
    three plan branches (sizes, both join sides) — cached so the corpus
    is tokenized once, not three times."""
    sh = _cache_scoped(ngram_shingles(df, id_col, text_col, n), "jaccard_shingles")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_docs: int | None = 64,
) -> DataFrame:
    """Asymmetric near-dup by CONTAINMENT: |S(A)∩S(B)| / min(|S(A)|,|S(B)|)
    for every pair sharing ≥1 shingle.

    Jaccard misses quote-inclusion: a short document embedded verbatim in
    a long one scores ≈ |short|/|long| and stays under any sane Jaccard
    threshold, while its containment is 1.0. Candidates come from the
    shingle equi-join (NOT MinHash-LSH, which buckets by Jaccard and
    therefore also misses contained pairs) — a contained pair necessarily
    shares shingles, so the candidate set is complete for containment.

    ``max_shingle_docs`` is this operator's boilerplate guard (the
    ``max_bucket`` discipline, ON by default — pass ``None`` to disable,
    matching ``cosine_pairs``/``repeated_spans``): shingles appearing in more than K
    documents — navigation chrome, licence headers — are dropped from
    PAIRING (sizes still count them), capping the equi-join fan-out at
    K² per shingle instead of corpus².

    Output: (id_a, id_b, n_common, n_a, n_b, containment)."""
    sh = _cache_scoped(
        ngram_shingles(df, id_col, text_col, n), "containment_shingles"
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    pairing = sh
    if max_shingle_docs is not None:
        # one window count over the shingle key — the same shuffle the
        # pair join below needs anyway, so the guard is ~free and the
        # join reuses the partitioning. The r8 form (groupBy + semi-join
        # back) re-shuffled the full 3-gram STRING keys twice: 9.2 s of
        # the 21 s containment_bigcorpus entry (r9 stage decomposition)
        from pyspark.sql import Window

        w = Window.partitionBy("shingle")
        pairing = (
            sh.withColumn("_df", F.count("*").over(w))
            .filter(F.col("_df") <= max_shingle_docs)
            .drop("_df")
        )
    a = pairing.select(F.col(id_col).alias("id_a"), "shingle")
    b = pairing.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "containment")
    )


# --- SimHash -----------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """64-bit SimHash emitted as a 64-char '0'/'1' string (bit 63 → bit 0).

    Per token: md5 hex → 16 nibbles → 64 bits. Per bit: sum of (2·bit − 1)
    over tokens; the signature bit is 1 iff the sum is positive. A
    bit-string (not BIGINT) avoids 64-bit sign pitfalls and compares/slices
    identically everywhere; band prefixes for candidate pairing are plain
    substrings."""
    dt = doc_tokens(df, id_col, text_col)
    # extract each hex nibble ONCE per token row (16 conv+substring calls),
    # then the 64 vote expressions are cheap shift/mask over those ints —
    # inlining conv(substring(...)) into every vote costs 4× the string work.
    # Expressions are built as SQL strings (one py4j call each) rather than
    # Column-method chains: the chained form cost ~500 py4j round-trips,
    # ~1 s of pure DRIVER time per invocation (measured; execution was
    # unchanged either way).
    hexd = dt.select(F.col(id_col), F.md5(F.col("token")).alias("h"))
    h = hexd.select(
        F.col(id_col),
        *[
            F.expr(f"cast(conv(substring(h, {n + 1}, 1), 16, 10) as int) as n{n:02d}")
            for n in range(16)
        ],
    )

    # 64 per-bit vote sums as plain aggregate expressions over the nibble
    # ints — one groupBy with map-side partial aggregation. (The obvious
    # alternative, exploding 64 (id, bit, ±1) rows per token, multiplies
    # the shuffle input 64× — ~100M rows at sf0.1 — for the same result.)
    votes = h.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum((shiftright(n{b // 4:02d}, {3 - b % 4}) & 1) * 2 - 1) as v{b:02d}"
            )
            for b in range(64)
        ]
    )
    bits = ",".join(
        f"case when v{b:02d} > 0 then '1' else '0' end" for b in range(64)
    )
    return votes.select(F.col(id_col), F.expr(f"concat({bits}) as simhash"))


def simhash_candidate_pairs(
    sig: DataFrame, id_col: str, prefix_bits: int = 16
) -> DataFrame:
    """Candidate pairs agreeing on any band of ``prefix_bits`` bits (the
    64-bit signature splits into 64 // prefix_bits bands, covering every
    bit)."""
    if 64 % prefix_bits:
        raise ValueError(
            f"prefix_bits={prefix_bits} must divide 64 — the trailing "
            "bits would be left out of every band"
        )
    num_bands = 64 // prefix_bits
    entries = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_idx"),
                F.substring("simhash", band * prefix_bits + 1, prefix_bits).alias("band_bits"),
            )
            for band in range(num_bands)
        ]
    )
    b = _cache_scoped(
        sig.select(F.col(id_col), F.explode(entries).alias("e")).select(
            id_col, "e.band_idx", "e.band_bits"
        ),
        "simhash_bands",
    )
    left = b.select(F.col(id_col).alias("id_a"), "band_idx", "band_bits")
    right = b.select(F.col(id_col).alias("id_b"), "band_idx", "band_bits")
    return (
        left.join(right, ["band_idx", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _sized_edge_cache(edges: DataFrame, scope_key: str) -> tuple[DataFrame, int]:
    """Cache + count an edge relation, then RE-CACHE it at the
    edge-count-sized partition count when the natural partitioning is
    much wider. The CC/PageRank loops read the cache every round, so a
    64-partition cache of a tiny candidate graph pays 64 read tasks per
    iteration — measured 1.75 s → 1.18 s for the CC loop at sf0.1. The
    re-cache materializes FROM the wide cache (one cheap narrow job)
    before the wide one is released; graphs already near the target
    partitioning skip the step entirely."""
    import math

    cached = _cache_scoped(edges, scope_key)
    n = cached.count()
    n_part = max(1, math.ceil(n / 2_000_000))
    if cached.rdd.getNumPartitions() > 4 * n_part:
        sized = cached.repartition(n_part).cache()
        sized.count()  # materialize from the wide cache before releasing it
        cached = _cache_scoped(sized, scope_key)  # unregisters + unpersists wide
    return cached, n


def _hash_partitioned_cache(
    edges: DataFrame, key: str, n_part: int, scope_key: str
) -> DataFrame:
    """Re-cache the edge relation HASH-partitioned on ``key`` so loop
    stages keyed on it (the CC propagate-aggregate) reuse the cache's
    output partitioning instead of exchanging the edge relation every
    round. One extra narrow job reading the existing cache."""
    sized = edges.repartition(n_part, key).cache()
    sized.count()
    return _cache_scoped(sized, scope_key)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected candidate-pair graph: the
    canonical-document-selection step that follows LSH pair generation in a
    real dedup pipeline.

    Why iterative and not a recursive CTE: Spark 4.1 supports WITH
    RECURSIVE but only with UNION ALL (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE,
    verified on this build) — and min-label propagation over an
    UNDIRECTED (hence cyclic) graph diverges without the distinct-union
    fixpoint, so the declarative form the DuckDB oracle uses is not
    expressible here. The driver-controlled loop below is the Spark-native
    equivalent, with pointer jumping for O(log diameter) rounds.

    Returns (node, component_id) where component_id is
    the minimum node id reachable — every member of a duplicate cluster
    maps to one stable representative.

    Algorithm: iterative min-label propagation. Each round is one
    equi-join + one min-aggregate (two narrow shuffles over (long, long)
    rows); ``localCheckpoint`` truncates lineage so plans don't grow with
    iterations. Near-dup graphs are unions of near-cliques (every LSH
    bucket emits a clique), so the diameter — and the iteration count —
    is tiny regardless of corpus size; the ``max_iterations`` guard
    bounds adversarial chains. For a general 100 TB graph with long paths
    you'd switch to the large-star/small-star variant (doubles distance
    per round); for dedup clusters plain propagation converges faster in
    practice because diameters are 1-3.

    Fixed-cost design (this used to be the slowest operator in the
    bench for pure overhead reasons, not data volume):

    - **seeding**: the initial labels come from one aggregate over the
      edge list — ``label(node) = min(node, min(neighbors))`` — which IS
      the first propagation round, fused with node discovery. A clique
      whose minimum member touches every other member (the common LSH
      bucket shape) is already converged at the seed.
    - **pointer jumping**: after the neighbor-min step each node also
      adopts its label's label (``label ← label(label)``), so label chains
      halve every round — convergence in O(log diameter) rounds instead of
      O(diameter). The jump is a self-join on the (tiny) label relation,
      not on the edge list.
    - **one job per round**: ``localCheckpoint(eager=False)`` defers the
      checkpoint to the convergence count, so each round materializes its
      result exactly once (the count both answers "changed?" and leaves
      the checkpointed partitions behind for the next round), instead of
      an eager-checkpoint job plus a count job.
    - **data-sized stages**: the candidate-pair graph is orders of
      magnitude smaller than the corpus that produced it, but the loop's
      checkpoints materialize through the RDD path where AQE partition
      coalescing does not apply — so every micro-iteration would pay the
      session's full shuffle-partition count in task overhead. The loop
      instead narrows each post-shuffle stage with an explicit
      ``coalesce(n_part)`` sized from the materialized edge count (~2M
      edge rows ≈ 32 MB per task); a billion-edge graph still gets
      hundreds of tasks. ``coalesce`` merges the exchange's reduce
      partitions without an extra shuffle AND without losing map-side
      partial aggregation, and — unlike the session-global
      ``spark.sql.shuffle.partitions`` override this replaced — it is
      plan-local: queries running concurrently on the same session are
      untouched.

    The per-iteration convergence check is a driver-side ``count`` of a
    LIMIT-1 diff — an O(1)-result job, not a data collect.

    ``stats``: pass a dict to receive the round attribution the bench
    reports (``regime``, ``n_edges``, ``n_part``, ``setup_wall``,
    ``seed_wall``, per-round walls incl. barrier rounds) — zero extra
    jobs, the walls wrap work the loop runs anyway.
    """
    import math
    import time as _time

    _t0 = _time.perf_counter()

    half = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    both = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # cache the symmetric union FIRST (unpartitioned) so the pair
    # lineage is computed exactly once, count from that cache to size
    # the stages, then re-cache hash-partitioned on dst via a narrow
    # read of the wide cache (ADVICE r9: the count-then-cache order
    # computed an uncached caller lineage twice). The loop's propagate
    # aggregate groups on the renamed dst, so in the broadcast regime
    # every round reuses the sized cache's partitioning with zero
    # exchanges.
    wide = both.cache()
    n_edges = wide.count()
    # two-sided stage sizing: ~2M edge rows (≈32 MB) per task bounds task
    # COUNT on billion-edge graphs, but alone it stranded mid-size graphs
    # on a couple of cores (2.6M edges → 2 tasks on 32 cores, measured 2x
    # slower end-to-end) — so below ~100k rows/task the floor is the
    # session's parallelism instead: every core works until tasks would
    # go micro
    cores = pairs.sparkSession.sparkContext.defaultParallelism
    n_part = max(
        math.ceil(n_edges / 2_000_000),
        min(math.ceil(max(n_edges, 1) / 100_000), cores),
    )
    edges = _hash_partitioned_cache(wide, "dst", n_part, "cc_edges")
    wide.unpersist()
    if stats is not None:
        stats["n_edges"] = n_edges
        stats["n_part"] = n_part
        stats["setup_wall"] = round(_time.perf_counter() - _t0, 4)
    return _cc_loop(edges, max_iterations, n_part, stats)


_BYTE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _broadcast_threshold_bytes(spark) -> int:
    """autoBroadcastJoinThreshold in BYTES, parsed with Spark's own
    byte-string grammar (``<int>[b|k|kb|m|mb|g|gb|t|tb|p|pb]``,
    case-insensitive; bare int = bytes for this conf; negative disables).
    Sessions not built by our ``session.py`` legitimately carry unit
    suffixes ('10MB', '100m', '10485760b') — a bare ``int(...)`` crashed
    on them (ADVICE r9). Unparseable values fall back to 0, which just
    disables the CC broadcast regime (the shuffle loop is always
    correct)."""
    import re

    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip()
    m = re.fullmatch(r"(-?\d+)\s*([a-zA-Z]*)", raw)
    if not m:
        return 0
    mult = _BYTE_SUFFIX.get(m.group(2).lower())
    return int(m.group(1)) * mult if mult is not None else 0


def _cc_loop(
    edges: DataFrame,
    max_iterations: int,
    n_part: int,
    stats: dict | None = None,
) -> DataFrame:
    import time as _time

    _t0 = _time.perf_counter()
    # the label relation is node-sized — when the seed's EXACT
    # materialized row count (a free count on the eager checkpoint)
    # proves it fits the session's broadcast budget, hint every
    # per-round join to broadcast it: the edge relation then never
    # re-exchanges inside the loop. AQE would make the same call but
    # can't — localCheckpoint leaves LogicalRDD nodes with no size
    # stats, so every round paid a full edge-relation shuffle. Past the
    # budget the loop shuffles exactly as before (a billion-node label
    # relation must never ride a broadcast) — the 100 TB shape is
    # unchanged.
    threshold = _broadcast_threshold_bytes(edges.sparkSession)

    def _maybe_bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_labels else df

    # seed = one fused propagation round: min over self ∪ neighbors.
    # Measured negative result (r10, 200k docs / 2.7M edges): adding a
    # pointer jump to the SEED labels costs 0.54 s and shrinks the
    # still-changing set only 177k → 170k — early rounds are edge-bound
    # (labels flow from minima outward), not chain-bound, so the jump
    # cannot cut a round. Per-round walls are flat (~1.0 s) while the
    # changed count drops steeply, i.e. the loop is job/broadcast-floor
    # bound at this scale, not data bound — attribution in the bench's
    # stage_walls.cc_rounds made this visible.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("node"), F.least("src", "_mn").alias("label")
        )
        .coalesce(n_part)
        # lazy: the count right below is a full scan, so it materializes
        # the checkpoint in the same job (the pagerank seed fold)
        .localCheckpoint(eager=False)
    )
    # 64 B/row is deliberately fat (two longs + HashedRelation overhead)
    broadcast_labels = 0 < (labels.count() * 64) < max(threshold, 0)
    spark = edges.sparkSession
    if stats is not None:
        stats["regime"] = "broadcast" if broadcast_labels else "shuffle"
        stats["seed_wall"] = round(_time.perf_counter() - _t0, 4)
        stats["round_walls"] = []
        stats["barrier_walls"] = []
    rounds = 0
    barrier_path: str | None = None
    barrier_base = "{}/_muninn_cc_barrier_{}".format(
        spark.conf.get("spark.sql.warehouse.dir").rstrip("/"), uuid.uuid4().hex
    )
    for _ in range(max_iterations - 1):
        _rt0 = _time.perf_counter()
        if broadcast_labels:
            # inner join is complete: every node appears as a dst (the
            # edge relation is symmetric), so nbr covers the node set
            msgs = edges.join(
                _maybe_bc(labels), edges["src"] == labels["node"]
            ).select(F.col("dst").alias("node"), F.col("label"))
            nbr = msgs.groupBy("node").agg(F.min("label").alias("_nl"))
            prop = (
                nbr.join(
                    _maybe_bc(
                        labels.select("node", F.col("label").alias("old_label"))
                    ),
                    "node",
                )
                .select(
                    "node",
                    F.least("_nl", "old_label").alias("label"),
                    "old_label",
                )
                # lazy checkpoint: the jump join below references prop
                # twice; checkpointing first shares one computation
                .localCheckpoint(eager=False)
            )
        else:
            msgs = edges.join(labels, edges["src"] == labels["node"]).select(
                F.col("dst").alias("node"),
                F.col("label"),
                F.lit(False).alias("is_old"),
            )
            # carry each node's previous label THROUGH the union (is_old
            # flag) so convergence is read off the aggregated result
            # itself — a labels⋈new_labels comparison join would double
            # the shuffle count for a boolean answer
            prop = (
                msgs.union(
                    labels.select("node", "label", F.lit(True).alias("is_old"))
                )
                .groupBy("node")
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("is_old"), F.col("label"))).alias(
                        "old_label"
                    ),
                )
                .coalesce(n_part)
                .localCheckpoint(eager=False)
            )
        # pointer jump: label ← label(label). Labels are always node ids
        # present in the relation, so the left join hits unless the label
        # is already a component minimum (which maps to itself anyway).
        lut = prop.select(F.col("node").alias("_ln"), F.col("label").alias("_ll"))
        jumped = prop.join(_maybe_bc(lut), F.col("label") == F.col("_ln"), "left").select(
            "node", F.coalesce("_ll", "label").alias("label"), "old_label"
        )
        # second jump in the same round: label chains shrink 4x per round
        # instead of 2x (log4 rounds on path-y graphs — LSH bucket chains
        # in a random candidate graph run longer than single-clique
        # theory says). The jump joins are on the label relation, which
        # is node-sized — far cheaper than the edge join that opens the
        # round, so trading one more of them for a whole round wins.
        new_labels = (
            jumped.join(_maybe_bc(lut), jumped["label"] == F.col("_ln"), "left")
            .select(
                "node",
                F.coalesce("_ll", jumped["label"]).alias("label"),
                "old_label",
            )
            .coalesce(n_part)
            .localCheckpoint(eager=False)
        )
        # full-scan aggregate (exact changed count), not
        # filter().limit(1).count(): limit can stop before draining every
        # partition, leaving the lazy checkpoint above only partially
        # materialized
        changed = new_labels.agg(
            F.sum(
                F.when(F.col("label") != F.col("old_label"), 1).otherwise(0)
            ).alias("n")
        ).collect()[0]["n"]
        labels = new_labels.select("node", "label")
        if stats is not None:
            stats["round_walls"].append(
                round(_time.perf_counter() - _rt0, 4)
            )
        if not changed:
            break
        rounds += 1
        if rounds % _BARRIER_EVERY == 0:
            _bt0 = _time.perf_counter()
            # stats-chain barrier. Spark 4's Dataset.checkpoint wraps the
            # new LogicalRDD's statistics in a thunk over the ORIGIN
            # plan's stats (LogicalRDD.rewriteStatsAndConstraints), so a
            # round-k checkpoint leaf transitively re-walks the stats of
            # every prior round — and this loop references its
            # checkpointed relations ~3x per round (edge join + two
            # jumps), making the walk grow ~3x per round. Invisible on
            # dense LSH graphs (converge in ≤6 rounds); on a thin
            # 62k-edge graph round 14's checkpoint call alone took 77 s
            # (jstack: SizeInBytesOnlyStatsPlanVisitor under
            # Dataset.checkpoint — driver-side, jobs stayed at 0.1 s).
            # A parquet round-trip every few rounds cuts the chain at a
            # fresh file-backed leaf: same graph 103 s -> 9.7 s, flat
            # 0.5 s rounds. The write is node-sized sequential IO to the
            # warehouse dir (cluster-visible), the standard reliable
            # barrier for iterative algorithms at any scale.
            prev, barrier_path = barrier_path, f"{barrier_base}/r{rounds}"
            labels.write.parquet(barrier_path)
            labels = spark.read.parquet(barrier_path)
            if prev is not None:
                _drop_path(spark, prev)
            if stats is not None:
                stats["barrier_walls"].append(
                    round(_time.perf_counter() - _bt0, 4)
                )
    if barrier_path is not None:
        # detach the result from the scratch files before deleting them:
        # every post-barrier round already re-materialized labels into
        # block-manager checkpoints UNLESS the loop ended on a barrier
        labels = labels.localCheckpoint(eager=True)
        _drop_path(spark, barrier_path)
        _drop_path(spark, barrier_base)
    return labels.select(F.col("node"), F.col("label").alias("component_id"))


# parquet-barrier cadence for iterative loops: chain depth stays ≤ this,
# bounding the checkpoint stats walk at ~3^4 trivial leaf visits
_BARRIER_EVERY = 4


def _drop_path(spark: SparkSession, path: str) -> None:
    """Best-effort recursive delete through the Hadoop FS of the path's
    scheme (works for file:, hdfs:, or any configured filesystem)."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(hpath, True)
    except Exception:  # pragma: no cover - cleanup must never fail the op
        pass


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """The production two-stage near-dup flow: LSH banding proposes
    candidate pairs (cheap, sketch-sized), exact n-gram Jaccard verifies
    ONLY those candidates (expensive, but candidate-bounded).

    Contrast with ``jaccard_pairs``, which pairs every shingle-sharing
    document — correct, but its equi-join output is bounded by shingle
    co-occurrence, not by the (much smaller) LSH candidate set. Here the
    verify join expands each candidate pair by |shingles(id_a)| rows and
    intersects via an equi-join on (id_b, shingle): cost is
    Σ_candidates |shingles| — at 10⁹ docs that's the difference between
    a feasible verification pass and a corpus-scale shingle self-join.
    Candidate pairs whose shingle intersection is empty (LSH false
    positives) have Jaccard 0 and fall below any positive threshold.

    Output: (id_a, id_b, n_common, n_a, n_b, jaccard) for verified pairs
    with ``jaccard >= threshold``.

    Deliberately NOT shared-tokenized: the MinHash sketch and the shingle
    relation each run the regex tokenizer over the corpus. Caching one
    tokenized (id, token-array) relation for both consumers was measured
    20% SLOWER at sf0.1 (2.56 s → 3.07 s isolated best-of-3): the cache
    materialization of corpus-wide arrays costs more than re-running a
    map-only projection, and at 100 TB pinning the tokenized corpus in
    storage memory is exactly the kind of cache that evicts things that
    matter. Recompute-over-cache is the right default for cheap
    narrow transformations."""
    cand = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, max_bucket
    )
    sh = _cache_scoped(ngram_shingles(df, id_col, text_col, n), "mv_shingles")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    common = (
        cand.join(sh.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def candidate_pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 3,
) -> DataFrame:
    """Fixed-point PageRank over the undirected candidate-pair graph —
    the centrality signal for CANONICAL-DOCUMENT selection (keep the most
    central member of a duplicate cluster, not merely the smallest id)
    and for spotting template/boilerplate hubs.

    Determinism is the design problem for an oracle-checked iterative
    algorithm: float PageRank sums neighbor contributions in partition
    order, so ranks differ in the last ulp between engines AND between
    runs. This implementation is INTEGER fixed-point — ranks live in
    micro-units (r₀ = 1 000 000), each step is
    ``r' = 150 000 + (85 · Σ (r_u div deg_u)) div 100`` using integer
    division throughout — exact, order-independent, bit-identical in any
    engine. The cost: each div truncates, so total mass decays slightly
    per iteration; ORDER is what the consumer uses, and truncation by
    < deg per node cannot reorder nodes separated by ≥ 1 micro-unit.

    Scale shape: ONE equi-join + one groupBy shuffle per iteration — the
    per-source degree is pre-joined into the cached edge relation
    (src, dst, _deg), so the loop body never touches a second dimension
    table. ``iterations`` is a compile-time unroll (default 3 —
    dup-cluster diameters are 1-3, see ``connected_components``), so the
    plan is a DAG, no driver-side convergence loop.

    Like the CC loop, the unrolled DAG's stages are narrowed to a task
    count sized from the materialized edge count via plan-local
    ``coalesce`` (candidate graphs are orders of magnitude smaller than
    the corpus; AQE's ``parallelismFirst`` default would otherwise run
    every tiny iteration stage at full session parallelism — measured
    3.4 s → ~1 s at sf0.1 for pure task-overhead reasons). ``coalesce``
    keeps map-side partial aggregation and, unlike the session-global
    shuffle-partition override it replaced, cannot leak into queries
    running concurrently on the same session. Eager: the returned
    relation is localCheckpoint-materialized.

    Output: (node, rank_micro)."""
    import math

    half = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    edges_w, n_edges = _sized_edge_cache(edges.join(deg, "src"), "pagerank_edges")
    n_part = max(1, math.ceil(n_edges / 2_000_000))
    ranks = (
        edges_w.select(
            F.col("src").alias("node"),
            F.lit(1_000_000).cast("long").alias("rank_micro"),
        )
        .distinct()
        .coalesce(n_part)
    )
    for _ in range(iterations):
        contrib = edges_w.join(ranks, edges_w.src == ranks.node).select(
            F.col("dst"), F.expr("rank_micro div _deg").alias("_c")
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(
                (F.lit(150_000) + F.expr("85 * sum(_c) div 100"))
                .cast("long")
                .alias("rank_micro")
            )
            .select(F.col("dst").alias("node"), "rank_micro")
            .coalesce(n_part)
        )
    return ranks.localCheckpoint(eager=True)


def candidate_triangles(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts over the candidate-pair graph — the
    standard cohesion metric for dedup-cluster QA: a near-clique cluster
    (high triangle counts) is high-confidence duplication, while a
    star/chain shape (zero triangles through the hub's neighbors)
    suggests LSH false positives chained by one hub document.

    Edge-oriented algorithm (no adjacency lists, no per-node
    materialization): canonicalize to a<b edges, build wedges a<b<c with
    one self-equi-join on the middle node, close each wedge with a
    LEFT-SEMI equi-join against the edge set, then count each triangle
    once per member node. Work is Σ deg(v)² wedge rows — bounded by the
    bucket guards upstream — never |V|². Output: (doc_id, n_triangles)
    for nodes in ≥1 triangle."""
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    closing = e.select(F.col("a").alias("_ca"), F.col("b").alias("_cb"))
    tri = wedges.join(
        closing,
        (F.col("a") == F.col("_ca")) & (F.col("c") == F.col("_cb")),
        "leftsemi",
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def canonical_documents(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 3,
) -> DataFrame:
    """Fused canonical-document selection: connected components (cluster
    membership) + integer fixed-point PageRank (centrality) over ONE
    shared edge materialization, then per-component canonical = max rank
    with min-id tiebreak.

    Running ``connected_components`` and ``candidate_pagerank``
    separately materializes the identical bidirectional edge relation
    twice (two caches, two sizing counts). This operator builds
    (src, dst, _deg) once, counts it once, and runs BOTH algorithms —
    and the final rank/canon joins — with every post-shuffle stage
    narrowed by the same edge-count-sized plan-local ``coalesce`` (see
    ``connected_components`` for why the sizing matters). Eager: the
    result is localCheckpoint-materialized.

    Output: (doc_id, component_id, rank_micro, canonical_id,
    is_canonical) — downstream keeps ``is_canonical`` rows. The
    canonical member is the most CENTRAL document of its cluster
    (highest rank, smallest-id tiebreak via lexicographic struct MIN
    over (-rank, id) — tie-safe, engine-exact), not whichever crawled
    first."""
    import math

    half = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    edges_w, n_edges = _sized_edge_cache(edges.join(deg, "src"), "canonical_edges")
    n_part = max(1, math.ceil(n_edges / 2_000_000))
    # CC (driver-side convergence loop) and PageRank (one unrolled
    # DAG) are independent consumers of the cached edges — submit
    # them from two driver threads so PageRank's job overlaps the
    # CC rounds' job-latency floor. Concurrent job submission on one
    # SparkSession is the supported Spark pattern for exactly this
    # (independent jobs, shared cache).
    from concurrent.futures import ThreadPoolExecutor

    def _cc():
        return _cc_loop(edges_w.select("src", "dst"), 25, n_part)

    def _pr():
        ranks = (
            edges_w.select(
                F.col("src").alias("node"),
                F.lit(1_000_000).cast("long").alias("rank_micro"),
            )
            .distinct()
            .coalesce(n_part)
        )
        for _ in range(iterations):
            contrib = edges_w.join(ranks, edges_w.src == ranks.node).select(
                F.col("dst"), F.expr("rank_micro div _deg").alias("_c")
            )
            ranks = (
                contrib.groupBy("dst")
                .agg(
                    (F.lit(150_000) + F.expr("85 * sum(_c) div 100"))
                    .cast("long")
                    .alias("rank_micro")
                )
                .select(F.col("dst").alias("node"), "rank_micro")
                .coalesce(n_part)
            )
        return ranks.localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=2) as pool:
        comp_f, ranks_f = pool.submit(_cc), pool.submit(_pr)
        comp, ranks = comp_f.result(), ranks_f.result()
    ranked = comp.join(ranks, comp.node == ranks.node).select(
        comp.node.alias("doc_id"), "component_id", "rank_micro"
    )
    canon = ranked.groupBy("component_id").agg(
        F.min(
            F.struct(
                (-F.col("rank_micro")).alias("nr"), F.col("doc_id").alias("n")
            )
        )["n"].alias("canonical_id")
    )
    out = ranked.join(canon, "component_id").select(
        "doc_id",
        "component_id",
        "rank_micro",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    ).coalesce(n_part)
    return out.localCheckpoint(eager=True)


def fuzzy_pairs_blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 2,
    block: F.Column | None = None,
    max_block: int | None = None,
    regime: str = "auto",
) -> DataFrame:
    """Blocked fuzzy self-join: record-linkage-style near-match pairs by
    Levenshtein edit distance, with a BLOCKING key so the quadratic
    comparison never runs corpus-wide.

    The classic entity-resolution shape: an all-pairs edit-distance join
    is O(n²) and dead at any scale; blocking first (here: default block =
    lowercased first token of ``text_col``; pass any Column for
    domain-specific keys like soundex or length-band+prefix) turns it
    into an equi-join on the block key — only same-block rows are ever
    compared, and ``levenshtein`` runs JVM-side on the joined pairs
    (whole-stage codegen, no UDF). ``id_a < id_b`` halves the output.

    ``max_block`` is the same guard as ``minhash_candidate_pairs``'s
    ``max_bucket``: a block of k rows emits k²/2 comparisons, so one
    degenerate key (empty string, boilerplate prefix) can dominate the
    job; blocks larger than the cap are dropped (log them, don't pair
    them). The cap is one window count over the block key — the shuffle
    the join needs anyway.

    Recall caveat (inherent to blocking, worth stating): pairs whose
    edits change the block key itself (a typo in the first token) are
    not candidates. Production linkage runs 2-3 block passes with
    different keys and unions the candidates — composition of this
    operator.

    ``regime`` (r15 optimization round): real linkage corpora repeat
    text VALUES heavily (names, product titles, boilerplate), and the
    edit distance is a pure function of the two texts — so scoring the
    DP per (block, text_a, text_b) VALUE pair and expanding the verdict
    back onto id pairs does strictly less work whenever values repeat:
    DP evaluations scale with (distinct values)² per block instead of
    rows² per block. ``"values"`` forces that shape, ``"rows"`` forces
    the classic row-pair scorer, and ``"auto"`` (default) picks by one
    cheap aggregate over the already-cached (id, text, block) relation:
    values-regime iff ``4 · countDistinct(block, text) <= count(*)``
    (net DP cut ≥ 8× — value pairs are scored ordered, a 2× overhead,
    and the expansion adds two narrow equi-joins that must be paid
    for). The probe makes ``"auto"`` EAGER (one extra job at plan-build
    time); pass an explicit regime to stay fully lazy. Both regimes are
    row-identical — the values path is pinned against the rows path in
    ``tests/test_pipeline_ops.py`` and the unchanged DuckDB oracles.

    Output: (id_a, id_b, text_a, text_b, distance), distance ≤
    ``max_distance``."""
    if regime not in ("auto", "rows", "values"):
        raise ValueError(f"regime must be auto|rows|values, got {regime!r}")
    blk = block if block is not None else F.lower(F.split(F.col(text_col), " ")[0])
    rel = df.select(F.col(id_col), F.col(text_col), blk.alias("_blk"))
    if max_block is not None:
        from pyspark.sql import Window

        rel = (
            rel.withColumn("_blk_n", F.count("*").over(Window.partitionBy("_blk")))
            .filter(F.col("_blk_n") <= max_block)
            .drop("_blk_n")
        )
    # scope the cache per block expression: multipass composes several
    # passes lazily, and a shared key would unpersist pass 1's relation
    # while pass 2 is being composed (recomputed-from-lineage correct,
    # but the cache would never be hit at execution time)
    rel = _cache_scoped(rel, f"fuzzy_blocks:{blk}")
    if regime == "auto":
        probe = rel.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("_blk", text_col).alias("n_vals"),
        ).first()
        regime = "values" if probe["n_vals"] * 4 <= probe["n_rows"] else "rows"
    if regime == "values":
        return _fuzzy_pairs_by_value(rel, id_col, text_col, max_distance)
    return _fuzzy_score_pairs(
        _fuzzy_candidates(rel, id_col, text_col),
        max_distance,
    )


def _fuzzy_pairs_by_value(
    rel: DataFrame, id_col: str, text_col: str, max_distance: int
) -> DataFrame:
    """Value-level scorer: run the (prefilter + thresholded DP) once per
    distinct ordered (block, text_a, text_b) combination, then expand the
    surviving value pairs back onto id pairs with two narrow equi-joins.
    Exactly the row-level output: a pair (i, j), i < j, is emitted iff
    block(i) = block(j) and levenshtein(text_i, text_j) ≤ k — both pure
    functions of the row values — and the distance column is the same DP
    result. ``scored`` is broadcast-hinted: the values regime only fires
    when every value repeats ≥4×, so the value-pair relation is ≥16×
    smaller than the row-pair relation it replaces (and the near-match
    filter shrinks it far below that); the corpus relation is then never
    shuffled by the expansion at all.

    The expansion FANS OUT (each corpus row multiplies by its text's
    match count), so its join shape matters more than its byte counts:
    a first cut that left build-side choice entirely to the planner
    measured WORSE than the rows regime it replaced (isolated wall
    12.3 s vs 7.3 at sf0.1); pinning the value-pair relation as the
    broadcast build side — so the corpus streams through both joins and
    the fan-out parallelizes over the corpus partitions — plus the
    coarse-input guard below measured 3.0 s / 32 cpu-s (vs 65 cpu-s for
    the rows regime). When the input relation carries fewer partitions
    than the session's parallelism, a deterministic hash repartition on
    the id (narrow rows; a no-op at scale where scans already carry
    ≥ cores partitions) spreads the expansion."""
    n_part = rel.sparkSession.sparkContext.defaultParallelism
    expand_src = rel
    if rel.rdd.getNumPartitions() < n_part:
        expand_src = rel.repartition(n_part, F.col(id_col))
    vals = rel.select("_blk", text_col).distinct()
    va = vals.select("_blk", F.col(text_col).alias("text_a"))
    vb = vals.select("_blk", F.col(text_col).alias("text_b"))
    scored = _fuzzy_score_pairs(va.join(vb, "_blk"), max_distance, carry=("_blk",))
    left = expand_src.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"), "_blk"
    )
    right = rel.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"), "_blk"
    )
    return (
        left.join(F.broadcast(scored), ["_blk", "text_a"])
        .join(right, ["_blk", "text_b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "text_a", "text_b", "distance")
    )


def _fuzzy_candidates(
    rel: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """One blocking pass's candidate pairs (id_a, id_b, text_a, text_b)
    over the prepared (id, text, _blk) relation — the candidate-
    generation half of ``fuzzy_pairs_blocked``'s rows regime, factored
    out of the edit-distance verification so the join/filter shape is
    testable and reusable on its own. (Multi-pass callers deliberately
    score INSIDE each pass and dedup scored pairs afterwards: a measured
    candidate-first union+dedup variant was 2.8× slower — see
    ``fuzzy_pairs_multipass``.)"""
    left = rel.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"), "_blk"
    )
    right = rel.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"), "_blk"
    )
    return (
        left.join(right, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "text_a", "text_b")
    )


def _fuzzy_score_pairs(
    cand: DataFrame,
    max_distance: int,
    carry: tuple[str, ...] = ("id_a", "id_b"),
) -> DataFrame:
    """Verify candidate pairs by edit distance — the r13 fast form of
    the old bare ``levenshtein(a, b) <= k`` filter, same output rows:

    - length prefilter: ``|len(a) − len(b)| <= k`` lower-bounds the
      edit distance and is a codegen-cheap comparison, so most
      candidates never reach the DP at all;
    - thresholded DP: Spark's 3-arg ``levenshtein(a, b, k)`` abandons
      the dynamic program as soon as the running distance exceeds k
      (returns −1), turning the common far-apart case from O(n·m) into
      O(k·min(n,m)); for kept pairs (distance ≤ k) it returns the
      EXACT distance, so the output column is unchanged;
    - single evaluation (r14): the old ``withColumn`` + two-sided
      filter let Catalyst substitute the DP into the join condition —
      the executed plan ran levenshtein THREE times per surviving pair
      (twice in the BroadcastHashJoin condition, once in the output
      projection; the r14 bench's CPU telemetry flagged
      q_fuzzy_join_multipass at 106.8 executor-CPU-seconds, the
      registry's heaviest). The Generate barrier (the filter_once
      pattern, text.py:272) pins ONE evaluation per length-surviving
      pair, and ``distance >= 0`` alone is the whole verdict — the
      3-arg form never returns a value above k.

    The barrier relies on Catalyst NOT collapsing a single-element
    ``explode(array(struct(...)))`` Generate (validated on Spark 4.1.2;
    ``tests/test_plans.py::test_fuzzy_dp_evaluated_once`` pins exactly
    one ``levenshtein`` in the executed plan and must be re-checked on
    every Spark upgrade — a future optimizer rule collapsing trivial
    Generates would silently reintroduce the 3× evaluation)."""
    pre = cand.filter(
        F.abs(F.length("text_a") - F.length("text_b")) <= max_distance
    )
    gen = pre.select(
        F.explode(
            F.array(
                F.struct(
                    *[F.col(c) for c in carry],
                    F.col("text_a"),
                    F.col("text_b"),
                    F.expr(
                        f"levenshtein(text_a, text_b, {int(max_distance)})"
                    ).alias("distance"),
                )
            )
        ).alias("_row")
    )
    return gen.select("_row.*").filter(F.col("distance") >= 0)


def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    min_run: int = 16,
    max_anchor_docs: int = 64,
) -> DataFrame:
    """EXACT repeated-substring runs across documents — the span-level
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), which removes verbatim repeats a
    document-level MinHash pass cannot see. Where ``token_chunks``
    approximates with non-overlapping spans (misses repeats that
    straddle a chunk boundary), this finds every maximal shared run of
    ``>= min_run`` tokens exactly.

    Distributed shape (no suffix array needed):
    1. overlapping ``k``-gram anchor hashes with positions — one row per
       token (the expensive relation; see scale note);
    2. anchors are pruned to those in 2..``max_anchor_docs`` distinct
       docs (the boilerplate cap — a gram in thousands of docs would
       quadratically explode the pair join, same guard as the LSH
       ``max_bucket``);
    3. anchor equi-join pairs positions; matches of a contiguous shared
       run all fall on one (id_a, id_b, pos_a - pos_b) diagonal;
    4. gaps-and-islands per diagonal (``pos - row_number`` key) merges
       contiguous anchors: a run of c matching grams is a shared
       substring of exactly c + k - 1 tokens.

    Scale: the anchor relation is corpus-token-sized; at 100 TB run this
    WITHIN near-dup clusters (feed it the documents of one connected
    component / LSH bucket at a time, or semi-join the corpus on
    candidate-pair ids first) so the anchor join stays cluster-local.
    Output: (id_a, id_b, a_start, b_start, run_tokens), one row per
    maximal shared run, ids ordered a < b.
    """
    toks = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= k)
    # the anchor relation feeds BOTH the hot-anchor aggregate and the pair
    # join — scope-cache it so tokenize+md5 runs once, not twice
    grams = _cache_scoped(
        toks.select(
            "_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(toks) - {k}),"
                    f" i -> md5(concat_ws(' ', slice(toks, i + 1, {k}))))"
                )
            ).alias("pos", "h"),
        ),
        "span_grams",
    )
    # anchor guard as two windows over the SAME (h) shuffle the pair
    # join needs: max(dense_rank over _id) == countDistinct(_id), so the
    # 2..max_anchor_docs band filter happens in-line and the self-join
    # below reuses the exchange — the r8 form (countDistinct aggregate +
    # semi-join back) re-shuffled the md5-string keys twice: raced 9.3 s
    # vs 2.7 s at the 200k-doc bench scale, identical runs out
    from pyspark.sql import Window as _W

    _wo = _W.partitionBy("h").orderBy("_id")
    _wa = _W.partitionBy("h")
    g2 = (
        grams.withColumn("_rnk", F.dense_rank().over(_wo))
        .withColumn("_nd", F.max("_rnk").over(_wa))
        .filter((F.col("_nd") >= 2) & (F.col("_nd") <= max_anchor_docs))
        .drop("_rnk", "_nd")
    )
    pairs = (
        g2.select(F.col("_id").alias("id_a"), F.col("pos").alias("pos_a"), "h")
        .join(
            g2.select(F.col("_id").alias("id_b"), F.col("pos").alias("pos_b"), "h"),
            "h",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    runs = (
        pairs.withColumn("island", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("a_start"),
            (F.count("*") + F.lit(k - 1)).alias("run_tokens"),
        )
        .filter(F.col("run_tokens") >= min_run)
    )
    return runs.select(
        "id_a",
        "id_b",
        "a_start",
        (F.col("a_start") - F.col("diag")).alias("b_start"),
        "run_tokens",
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    min_run: int = 16,
    max_anchor_docs: int = 64,
) -> DataFrame:
    """The APPLY step of exact span dedup: cut each repeated run out of
    the HIGHER-id document of every pair found by ``repeated_spans``
    (first occurrence survives intact — the Lee et al. policy), and
    return the cleaned token stream per document.

    Per affected document the cut intervals come back as an array
    (overlaps union naturally through the existential check), and the
    cleaned text is a ``filter`` over the indexed token array — pure
    codegen, no UDFs, no explode of unaffected documents. The span
    relation joins back LEFT so untouched documents pass through with
    ``n_removed = 0``. Cost is one extra pass over the corpus beyond
    ``repeated_spans`` itself; at 100 TB persist/cache the tokenized
    relation if running both.

    Output: (id, clean_text, n_removed) for EVERY input document.
    """
    spans = repeated_spans(df, id_col, text_col, k, min_run, max_anchor_docs)
    ivs = spans.groupBy(F.col("id_b").alias("_rid")).agg(
        F.collect_list(
            F.struct(F.col("b_start").alias("s"), F.col("run_tokens").alias("n"))
        ).alias("_ivs")
    )
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    j = toks.join(ivs, toks[id_col] == ivs["_rid"], "left").withColumn(
        "_kept",
        F.expr(
            "filter(transform(_toks, (t, i) -> struct(t, i)),"
            " s -> _ivs IS NULL OR NOT exists(_ivs, v -> s.i >= v.s AND s.i < v.s + v.n))"
        ),
    )
    return j.select(
        F.col(id_col),
        F.concat_ws(" ", F.expr("transform(_kept, s -> s.t)")).alias("clean_text"),
        (F.size("_toks") - F.size("_kept")).alias("n_removed"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """CORPUS-level exact paragraph dedup — the C4 / RefinedWeb line
    dedup step: every distinct paragraph keeps only its FIRST occurrence
    in (id, position) order across the whole corpus; later occurrences
    are dropped and each document is reassembled from its surviving
    paragraphs in original order. This is the boilerplate remover
    (headers, footers, cookie banners) that document-level dedup cannot
    see; compose with ``normalize`` upstream for case/whitespace
    robustness — matching here is deliberately exact so the result is
    oracle-replayable.

    Distributed shape: posexplode on ``sep`` (narrow) → ONE exchange
    partitioned by the paragraph itself (exact, no hash-collision merge)
    for a streaming row_number — first-occurrence choice, not a global
    sort — then one ``id`` aggregate to reassemble (second exchange).
    Skew note: at 100 TB a boilerplate paragraph repeated in every doc
    lands its occurrences in one window task; cap or pre-count hot
    paragraphs (the ``max_bucket`` discipline) if the corpus has
    pathological boilerplate.

    Returns (id, text_kept, n_paragraphs, n_kept) — one row per INPUT
    row, always: a NULL/empty/all-blank document comes back as
    ('', 0, 0), never silently vanishing from the corpus (r12 review —
    the reassembly shape must preserve cardinality for downstream
    joins). Whitespace-only paragraphs never compete in dedup (they are
    separator artifacts, and letting one win "first occurrence" would
    delete a real blank line's twin elsewhere).
    """
    import re

    from pyspark.sql import Window

    # F.split takes a REGEX; the reassembly join is literal — quote the
    # separator so sep="|" or "." splits literally (r12 review)
    paras = df.select(
        F.col(id_col),
        F.posexplode_outer(
            F.split(F.col(text_col), F.lit(re.escape(sep)))
        ).alias("pos", "para"),
    ).withColumn(
        "_blank",
        F.col("para").isNull() | F.col("para").rlike(r"^\s*$"),
    )
    w = Window.partitionBy("para").orderBy(
        F.col(id_col).asc(), F.col("pos").asc()
    )
    # only REAL paragraphs ride the dedup window: blanks are identical
    # corpus-wide, so sending them through a window partitioned by the
    # paragraph text would pile every blank in the corpus into one task
    flagged = (
        paras.filter(~F.col("_blank"))
        .withColumn("_keep", F.row_number().over(w) == 1)
        .unionByName(
            paras.filter(F.col("_blank")).withColumn("_keep", F.lit(False))
        )
    )
    return flagged.groupBy(id_col).agg(
        F.sum(F.when(~F.col("_blank"), 1).otherwise(0))
        .cast("long")
        .alias("n_paragraphs"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text_kept"),
    )

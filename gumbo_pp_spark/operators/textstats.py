"""Text analysis operators: quality scoring, language-ID heuristic,
token counting, document fingerprinting.

All pure ``pyspark.sql.functions`` / SQL expressions (JVM-side,
whole-stage codegen); float ratios are emitted as e4-scaled BIGINTs so
DuckDB oracles compare exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for")

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "is", "and", "of"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "de", "les"),
}


def _in_list(items: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in items)


def quality_stats(df: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, n_tokens, avg_token_len_e4, stopword_ratio_e4,
    alpha_ratio_e4) — length/punctuation/stopword heuristics used for
    corpus quality filtering.  ``keep`` prepends passthrough selectExpr
    entries (e.g. a host column) so a caller rolling the stats up by
    another key gets it in the same map-only projection instead of
    joining back to the corpus."""
    stop = _in_list(STOPWORDS)
    return df.selectExpr(
        *keep,
        "CAST(doc_id AS BIGINT) AS doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens",
        # chars-in-words / n_tokens (separators = n_tokens - 1 spaces)
        "CAST(round(10000.0 * (length(text) - size(split(text, ' ')) + 1)"
        " / size(split(text, ' '))) AS BIGINT) AS avg_token_len_e4",
        f"CAST(round(10000.0 * size(filter(split(text, ' '), w -> w IN ({stop})))"
        " / size(split(text, ' '))) AS BIGINT) AS stopword_ratio_e4",
        "CAST(round(10000.0 * length(regexp_replace(text, '[^a-z]', ''))"
        " / length(text)) AS BIGINT) AS alpha_ratio_e4",
    )


def _lang_case(text_col: str) -> str:
    """The lang-ID argmax CASE (deterministic tie order en > es > de >
    fr) as a SQL string — shared by :func:`lang_id` and
    :func:`corpus_report`."""
    scores = {
        lang: f"size(filter(split({text_col}, ' '), w -> w IN ({_in_list(ws)})))"
        for lang, ws in LANG_MARKERS.items()
    }
    return (
        f"CASE WHEN {scores['en']} >= {scores['es']} AND {scores['en']} >= {scores['de']}"
        f" AND {scores['en']} >= {scores['fr']} THEN 'en'"
        f" WHEN {scores['es']} >= {scores['de']} AND {scores['es']} >= {scores['fr']} THEN 'es'"
        f" WHEN {scores['de']} >= {scores['fr']} THEN 'de'"
        f" ELSE 'fr' END"
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID (n-gram-heuristic family): score per
    language = marker-word hits; argmax with deterministic tie order
    en > es > de > fr.  Heuristic operator — the correctness gate is
    formula parity with the oracle, not real-world accuracy."""
    return df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        f"{_lang_case(text_col)} AS pred_lang",
    )


def fingerprints(df: DataFrame) -> DataFrame:
    """(doc_id, fp_md5, fp_winnow) — whole-document md5 plus a
    winnowing-style rolling fingerprint: min md5 over character
     8-grams sampled every 4 positions (robust to small suffix edits).
    """
    return df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        "md5(text) AS fp_md5",
        "array_min(transform(sequence(1, greatest(length(text) - 7, 1), 4), "
        "j -> md5(substring(text, j, 8)))) AS fp_winnow",
    )


def normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, norm_text) — training-data normalization pass:
    lowercase, strip non-alphanumerics to spaces, collapse whitespace,
    trim.  Pure regexp (JVM-side, oracle-identical in RE2)."""
    return df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        f"trim(regexp_replace(regexp_replace(lower({text_col}), "
        "'[^a-z0-9 ]', ' '), ' +', ' ')) AS norm_text",
    )


# backslash-free regexes: identical behavior in Spark (Java regex) and
# DuckDB (RE2) and immune to SQL string-literal escape differences
PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
PII_PHONE = "[+]?[0-9][0-9() -]{7,}[0-9]"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, clean_text, n_emails, n_phones) — redact emails and
    phone-number-like runs before a corpus leaves the pipeline."""
    return df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        f"regexp_replace(regexp_replace({text_col}, '{PII_EMAIL}', '<EMAIL>'), "
        f"'{PII_PHONE}', '<PHONE>') AS clean_text",
        f"CAST(regexp_count({text_col}, '{PII_EMAIL}') AS BIGINT) AS n_emails",
        f"CAST(regexp_count({text_col}, '{PII_PHONE}') AS BIGINT) AS n_phones",
    )


def quality_filter(
    df: DataFrame,
    min_tokens: int = 50,
    min_stopword_ratio_e4: int = 200,
    min_alpha_ratio_e4: int = 7000,
) -> DataFrame:
    """The corpus quality gate: keep documents passing all thresholds.
    Returns (doc_id, n_tokens) of survivors — the typical first filter
    of a training-data pipeline (runs before dedup/extraction)."""
    stats = quality_stats(df)
    return stats.where(
        (stats.n_tokens >= min_tokens)
        & (stats.stopword_ratio_e4 >= min_stopword_ratio_e4)
        & (stats.alpha_ratio_e4 >= min_alpha_ratio_e4)
    ).select("doc_id", "n_tokens")


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: distinct-word
    ratio, most-frequent-word share, most-frequent-bigram share (all
    e4-scaled BIGINT).  Highly repetitive documents (boilerplate, spam,
    generation loops) score low distinct ratio / high top shares.

    Shape: TWO scans (words, bigrams), each explode → one
    (doc, gram)-keyed shuffle with map-side partial aggregation; the
    word pass yields n_words (sum of counts), n_distinct (group count)
    and the top count in ONE grouped aggregation — no caching of the
    corpus, no per-document quadratic lambdas."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    words = ensure_min_parallelism(df).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.split(F.col(text_col), " ").alias("w"),
    )
    wstats = (
        words.select("doc_id", F.explode("w").alias("g"))
        .groupBy("doc_id", "g").count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("count").alias("top_word_n"),
        )
    )
    top_bigram = (
        words.select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, size(w) - 1), j -> concat(element_at(w, j), ' ', element_at(w, j + 1)))")
            ).alias("g"),
        )
        .groupBy("doc_id", "g").count()
        .groupBy("doc_id").agg(F.max("count").alias("top_bigram_n"))
    )
    return wstats.join(top_bigram, "doc_id").select(
        "doc_id",
        F.round(F.col("n_distinct") * 10000.0 / F.col("n_words")).cast("bigint").alias("distinct_ratio_e4"),
        F.round(F.col("top_word_n") * 10000.0 / F.col("n_words")).cast("bigint").alias("top_word_frac_e4"),
        F.round(F.col("top_bigram_n") * 10000.0 / (F.col("n_words") - 1)).cast("bigint").alias("top_bigram_frac_e4"),
    )


def paragraph_chunks(df: DataFrame, text_col: str = "text", stride: int = 10) -> DataFrame:
    """(doc_id, chunk_idx, chunk) — consecutive ``stride``-word windows
    (the 'paragraph' unit for sub-document dedup; real pipelines use
    newline paragraphs, the synthetic corpus is single-line).

    The split is projected ONCE before the chunk lambda (round 8):
    Spark does not hoist loop-invariant subexpressions out of
    higher-order-function lambdas (see ``chunk_tokens``), so the
    one-expression form re-tokenized the document for every chunk —
    O(words²/stride) characters per document.  Input spread is guarded
    like every per-word pass."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    return (
        ensure_min_parallelism(df)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.expr(f"split({text_col}, ' ')").alias("ws"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws), {stride}), "
                    f"j -> struct(CAST((j - 1) / {stride} AS BIGINT) AS chunk_idx, "
                    f"concat_ws(' ', slice(ws, j, {stride})) AS chunk))"
                )
            ).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk").alias("chunk"),
        )
    )


def dedup_paragraphs(df: DataFrame, text_col: str = "text", stride: int = 10) -> DataFrame:
    """Sub-document (paragraph-level) dedup: chunks shared by more than
    one document, with the canonical keeper.  Returns
    (chunk_md5, n_docs, keep_doc) — hash-groupBy with map-side partial
    aggregation; the md5 key keeps shuffle rows tiny at corpus scale."""
    ch = paragraph_chunks(df, text_col, stride)
    return (
        ch.groupBy(F.md5("chunk").alias("chunk_md5"))
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keep_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


def canonical_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(doc_id, canon_url, had_tracking) — crawl-frontier URL
    canonicalization: strip the fragment, strip utm_* tracking params,
    normalize a dangling '?'/'&', lowercase the scheme+host.  Pure
    regexp (Java≡RE2 portable, backslash-free)."""
    strip_frag = f"regexp_replace({url_col}, '#.*', '')"
    # order matters: '?utm_x=v&rest' keeps its '?', then '&utm_x=v'
    # mid-query is dropped, then a lone trailing '?utm_x=v' is dropped
    p1 = f"regexp_replace({strip_frag}, '[?]utm_[a-z]+=[^&#]*[&]', '?')"
    p2 = f"regexp_replace({p1}, '[&]utm_[a-z]+=[^&#]*', '')"
    p3 = f"regexp_replace({p2}, '[?]utm_[a-z]+=[^&#]*$', '')"
    host_part = f"regexp_extract({p3}, '^[a-zA-Z]+://[^/]*', 0)"
    return df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        f"concat(lower({host_part}), substring({p3}, length({host_part}) + 1)) AS canon_url",
        f"CAST(CASE WHEN {url_col} RLIKE '[?&]utm_' THEN 1 ELSE 0 END AS BIGINT) AS had_tracking",
    )


def sample_by_hash(df: DataFrame, rate_e4: int = 1000, key_col: str = "doc_id") -> DataFrame:
    """Deterministic corpus sampling: keep a row iff the first 8 hex
    digits of md5(key) fall under ``rate_e4``/10000 of the 32-bit
    space.  Reproducible across engines and runs (no RNG), uniform in
    the hash domain, and embarrassingly parallel — the standard way to
    carve an evaluation slice out of a 10^12-row corpus."""
    threshold = (rate_e4 * (1 << 32)) // 10000
    return df.where(
        F.expr(
            f"CAST(conv(substring(md5(CAST({key_col} AS STRING)), 1, 8), 16, 10) AS BIGINT) < {threshold}"
        )
    )


def cap_per_host(df: DataFrame, cap: int = 3, host_col: str = "host",
                 key_col: str = "doc_id", salt_buckets: int = 16) -> DataFrame:
    """Per-host document cap: keep at most ``cap`` documents per host,
    chosen deterministically by md5(key) order (tie-broken by key).
    The standard anti-domination gate before training-corpus assembly —
    without it one crawl-heavy host owns the token budget.

    Two-phase for skew safety (a plain ``row_number() over (partition
    by host)`` puts a crawl-heavy host's ENTIRE row set into one sorted
    task):

    * phase 1 ranks within ``(host, pmod(xxhash64(key), salt_buckets))``
      and keeps ≤ ``cap`` per salted group — a hot host is spread over
      ``salt_buckets`` tasks, each bounded;
    * phase 2 re-ranks the ≤ ``cap·salt_buckets`` survivors per host
      exactly.  Every member of the true per-host top-``cap`` is also
      in the top-``cap`` of its own salt bucket, so the answer is
      IDENTICAL to the single-window form.
    """
    from pyspark.sql.window import Window

    order = (F.md5(F.col(key_col).cast("string")), F.col(key_col))
    salt = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(salt_buckets))
    w1 = Window.partitionBy(F.col(host_col), salt).orderBy(*order)
    w2 = Window.partitionBy(host_col).orderBy(*order)
    return (
        df.withColumn("salt_rank", F.row_number().over(w1))
        .where(F.col("salt_rank") <= cap)
        .withColumn("host_rank", F.row_number().over(w2))
        .where(F.col("host_rank") <= cap)
        .drop("salt_rank", "host_rank")
    )


def host_quality_stats(
    df: DataFrame,
    host_col: str = "host",
    min_tokens: int = 50,
    min_stopword_ratio_e4: int = 200,
    min_alpha_ratio_e4: int = 7000,
) -> DataFrame:
    """(host, n_docs, n_bad, bad_frac_e4) — per-domain roll-up of the
    document quality gate: ``n_bad`` counts documents FAILING the same
    thresholds as :func:`quality_filter`.  Scale shape: the bad flag is
    computed map-only in the same projection as the stats (``keep``
    passthrough, no join back to the corpus) and the host aggregate is
    one map-side-combined shuffle; the output is hosts-sized ≪ corpus.
    The per-document stat projection (split/filter/regexp per row) is
    the heavy map work here — guarded against under-parallel scans
    like every other per-row pass."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    s = quality_stats(ensure_min_parallelism(df), keep=(f"{host_col} AS host",))
    bad = (
        (F.col("n_tokens") < min_tokens)
        | (F.col("stopword_ratio_e4") < min_stopword_ratio_e4)
        | (F.col("alpha_ratio_e4") < min_alpha_ratio_e4)
    )
    return (
        s.select("host", F.when(bad, F.lit(1)).otherwise(F.lit(0)).alias("is_bad"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_bad").cast("bigint").alias("n_bad"),
            F.expr(
                "CAST(round(10000.0 * sum(is_bad) / count(1)) AS BIGINT)"
            ).alias("bad_frac_e4"),
        )
    )


def host_quality_gate(
    df: DataFrame,
    host_col: str = "host",
    min_docs: int = 5,
    max_bad_frac_e4: int = 5000,
    min_tokens: int = 50,
    min_stopword_ratio_e4: int = 200,
    min_alpha_ratio_e4: int = 7000,
) -> DataFrame:
    """Drop EVERY document from hosts whose measured bad-document
    fraction exceeds ``max_bad_frac_e4`` — the CCNet/RefinedWeb-style
    domain blocklist computed from the corpus itself (spam/SEO farms
    poison even their individually-passing pages).  Hosts with fewer
    than ``min_docs`` observations are never blocked (too little
    evidence; their documents still face the doc-level gate downstream).

    The block decision is integer-exact — ``10000·n_bad >
    max_bad_frac_e4·n_docs`` — no float division to disagree with an
    oracle.  Scale shape: two passes over the corpus by construction
    (stats, then gate), but the corpus itself is never shuffled — the
    host aggregate output and the blocked-host list are hosts-sized,
    and the gate is a broadcast left-anti join."""
    stats = host_quality_stats(
        df, host_col, min_tokens, min_stopword_ratio_e4, min_alpha_ratio_e4
    )
    blocked = stats.where(
        (F.col("n_docs") >= min_docs)
        & (F.col("n_bad") * 10000 > F.col("n_docs") * max_bad_frac_e4)
    ).select(F.col("host").alias("_blocked_host"))
    return df.join(
        F.broadcast(blocked),
        F.col(host_col) == F.col("_blocked_host"),
        "left_anti",
    )


#: Gopher rule constants (Rae et al. 2021 appendix A1.1, as adopted by
#: the public reproductions): stopword panel and thresholds
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    line_sep_regex: str = "\n",
    min_words: int = 50,
    max_words: int = 100000,
    min_mean_word_len_e4: int = 30000,
    max_mean_word_len_e4: int = 100000,
    max_symbol_ratio_e4: int = 1000,
    max_bullet_frac_e4: int = 9000,
    max_ellipsis_frac_e4: int = 3000,
    min_alpha_word_frac_e4: int = 8000,
    min_stopwords: int = 2,
) -> DataFrame:
    """The Gopher quality-rule panel (Rae et al. 2021 §A1.1) as ONE
    map-only projection: per-document word count, mean word length,
    symbol-to-word ratio (``#`` and ``...``), bullet-start and
    ellipsis-end line fractions, alphabetic-word fraction, stopword
    presence, and the combined ``gopher_pass`` verdict.  All ratios are
    e4-scaled integers (single division each) so oracles compare
    bit-for-bit; no UDF, whole-stage codegen end to end.
    ``line_sep_regex`` adapts the line rules to the corpus' segment
    convention ('\\n' for real text, '[.] ' for the synthetic tables)."""
    stop_terms = " + ".join(
        f"(CASE WHEN array_contains(ws, '{s}') THEN 1 ELSE 0 END)"
        for s in GOPHER_STOPWORDS
    )
    bullet = "l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %'"
    out = df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        f"split({text_col}, ' ') AS ws",
        f"split({text_col}, '{line_sep_regex}') AS ls",
        f"CAST(regexp_count({text_col}, '#') + regexp_count({text_col}, '[.]{{3}}') AS BIGINT) AS n_symbols",
    ).selectExpr(
        "doc_id",
        "CAST(size(ws) AS BIGINT) AS n_words",
        "CAST(round(10000.0 * aggregate(ws, 0L, (a, w) -> a + length(w)) / size(ws)) AS BIGINT) AS mean_word_len_e4",
        "CAST(round(10000.0 * n_symbols / size(ws)) AS BIGINT) AS symbol_ratio_e4",
        f"CAST(round(10000.0 * size(filter(ls, l -> {bullet})) / size(ls)) AS BIGINT) AS bullet_frac_e4",
        "CAST(round(10000.0 * size(filter(ls, l -> l LIKE '%...')) / size(ls)) AS BIGINT) AS ellipsis_frac_e4",
        "CAST(round(10000.0 * size(filter(ws, w -> w RLIKE '[a-zA-Z]')) / size(ws)) AS BIGINT) AS alpha_word_frac_e4",
        f"CAST({stop_terms} AS BIGINT) AS n_stopwords_present",
    )
    checks = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len_e4") >= min_mean_word_len_e4)
        & (F.col("mean_word_len_e4") <= max_mean_word_len_e4)
        & (F.col("symbol_ratio_e4") <= max_symbol_ratio_e4)
        & (F.col("bullet_frac_e4") <= max_bullet_frac_e4)
        & (F.col("ellipsis_frac_e4") <= max_ellipsis_frac_e4)
        & (F.col("alpha_word_frac_e4") >= min_alpha_word_frac_e4)
        & (F.col("n_stopwords_present") >= min_stopwords)
    )
    return out.withColumn(
        "gopher_pass", F.when(checks, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
    )


def mirror_hosts(
    df: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    min_shared: int = 3,
    fp_cap: int = 64,
) -> DataFrame:
    """(host_a, host_b, n_shared, jaccard_e4) — UNDECLARED mirror
    detection (the complement of rel=canonical collapse): host pairs
    sharing ≥ ``min_shared`` exact content fingerprints, with the
    Jaccard of their fingerprint sets.  Mirrors, scraper farms and
    CDN-duplicated sites surface here without any markup cooperation.

    Scale shape — the LSH bucketing discipline applied to fingerprints:
    the corpus collapses to DISTINCT (host, fp) rows first (map-side
    combined), fingerprints on more than ``fp_cap`` hosts are dropped
    before the self-join (shared templates/empty pages would otherwise
    quadratically explode a bucket; the cap bounds any fp's pair
    fan-out at C(fp_cap, 2)), and the pair aggregate joins two
    hosts-sized count tables (broadcast).  Document text never moves —
    only 32-char digests shuffle."""
    fps = df.select(
        F.col(host_col).alias("host"), F.md5(F.col(text_col)).alias("fp")
    ).distinct()
    per_host = fps.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fps")
    )
    cool = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("nh")).where(
        F.col("nh") <= fp_cap
    ).select("fp")
    fps = fps.join(cool, "fp")
    a = fps.select("fp", F.col("host").alias("host_a"))
    b = fps.select("fp", F.col("host").alias("host_b"))
    pairs = (
        a.join(b, "fp")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    na = per_host.select(F.col("host").alias("host_a"), F.col("n_fps").alias("na"))
    nb = per_host.select(F.col("host").alias("host_b"), F.col("n_fps").alias("nb"))
    return (
        pairs.join(F.broadcast(na), "host_a")
        .join(F.broadcast(nb), "host_b")
        .select(
            "host_a",
            "host_b",
            "n_shared",
            F.round(
                F.col("n_shared") * 10000.0
                / (F.col("na") + F.col("nb") - F.col("n_shared"))
            )
            .cast("bigint")
            .alias("jaccard_e4"),
        )
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, ws_tokens, word_tokens) — whitespace tokenization plus
    a BPE-ish alnum-run count (regexp, JVM-side)."""
    return df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        f"CAST(size(split({text_col}, ' +')) AS BIGINT) AS ws_tokens",
        f"CAST(regexp_count({text_col}, '[a-z0-9]+') AS BIGINT) AS word_tokens",
    )


# ----------------------------------------------------------------------
# Benchmark decontamination (GPT-3 appendix C / PaLM style): a
# training document is contaminated when it shares at least one word
# n-gram (n=13 by convention) with any document of an evaluation set.
# Scale shape: the eval side is benchmark-sized (10^4..10^6 grams)
# against a 10^12-page corpus, so the eval grams are distinct'd and
# BROADCAST; the corpus side is a map-only n-gram explode feeding a
# broadcast hash join — the corpus is never shuffled on text, only the
# matched (doc_id, gram) rows reach the per-doc count (map-side
# combined, keyed by doc_id).


def _ngram_expr(n: int) -> str:
    # distinct word n-grams over a pre-split `ws` column; split once,
    # not per lambda index (Spark has no loop-invariant hoisting in
    # higher-order functions)
    return (
        f"array_distinct(transform(sequence(1, size(ws) - {n - 1}), "
        f"j -> concat_ws(' ', slice(ws, j, {n}))))"
    )


def eval_ngrams(evals: DataFrame, n: int = 13, text_col: str = "text") -> DataFrame:
    """Distinct word ``n``-grams of an eval set: (gram).  Docs shorter
    than ``n`` words contribute nothing."""
    ws = evals.select(F.split(F.col(text_col), " ").alias("ws")).where(
        F.expr(f"size(ws) >= {n}")
    )
    return ws.select(F.explode(F.expr(_ngram_expr(n))).alias("gram")).distinct()


def contamination(
    docs: DataFrame,
    evals: DataFrame,
    n: int = 13,
    text_col: str = "text",
    grams: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_contaminated) for every training document sharing at
    least one word ``n``-gram with ``evals`` — ``n_contaminated`` is
    the number of DISTINCT shared grams (both sides de-duplicate
    per document, so the count is order-free and oracle-stable).
    Clean documents are absent; :func:`decontaminate` is the filter.

    ``grams`` short-circuits the eval-side derivation with a
    precomputed (gram) DataFrame — a caller running this repeatedly
    (the streaming foreachBatch path) caches the gram table once
    instead of re-aggregating the eval set per micro-batch."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    if grams is None:
        grams = eval_ngrams(evals, n, text_col)
    ws = (
        ensure_min_parallelism(docs)
        .select("doc_id", F.split(F.col(text_col), " ").alias("ws"))
        .where(F.expr(f"size(ws) >= {n}"))
    )
    dg = ws.select("doc_id", F.explode(F.expr(_ngram_expr(n))).alias("gram"))
    return (
        dg.join(F.broadcast(grams), "gram")
        .groupBy(F.col("doc_id").cast("bigint").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated"))
    )


def decontaminate(
    docs: DataFrame,
    evals: DataFrame,
    n: int = 13,
    text_col: str = "text",
    grams: DataFrame | None = None,
) -> DataFrame:
    """``docs`` minus every document contaminated against ``evals``
    (left-anti on doc_id; all original columns pass through).
    ``grams`` as in :func:`contamination`."""
    bad = contamination(docs, evals, n, text_col, grams=grams).select("doc_id")
    return docs.join(bad, "doc_id", "left_anti")


def sentence_contamination(
    docs: DataFrame,
    evals: DataFrame,
    n: int = 8,
    text_col: str = "text",
    grams: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, pos) of every SENTENCE (``'. '``-delimited, 0-indexed)
    sharing at least one word ``n``-gram with ``evals`` — the surgical
    sibling of :func:`contamination` for when an eval prompt quotes one
    sentence embedded in an otherwise-good page.  Scale shape: the
    sentence+gram explode is map-only, grams join the broadcast eval
    table, and the output is contaminated-sentences-sized ≪ corpus."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    if grams is None:
        grams = eval_ngrams(evals, n, text_col)
    sents = (
        ensure_min_parallelism(docs)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "[.] ")).alias("pos", "sent"),
        )
        .select("doc_id", "pos", F.split("sent", " ").alias("ws"))
        .where(F.expr(f"size(ws) >= {n}"))
    )
    sg = sents.select(
        "doc_id", "pos", F.explode(F.expr(_ngram_expr(n))).alias("gram")
    )
    return sg.join(F.broadcast(grams), "gram").select("doc_id", "pos").distinct()


def decontaminate_sentences(
    docs: DataFrame,
    evals: DataFrame,
    n: int = 8,
    text_col: str = "text",
    grams: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, clean_text, n_dropped): remove contaminated SENTENCES
    and keep the document — every document survives (possibly with
    ``clean_text = ''`` when all its sentences matched).  Scale shape:
    the corpus is never shuffled — contaminated (doc_id, pos) pairs
    (≪ corpus) are rolled up per document and joined back (AQE picks
    broadcast when the set is small, the common case), and the rebuild
    is a map-side indexed ``filter`` over the re-split sentence array —
    no explode-regroup of document text through an exchange."""
    bad = sentence_contamination(docs, evals, n, text_col, grams=grams)
    return _drop_segment_positions(docs, bad, text_col)


def _drop_segment_positions(
    docs: DataFrame, bad: DataFrame, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, clean_text, n_dropped [, *keep]): rebuild every document
    without the ``'. '``-delimited segments named by ``bad`` (doc_id,
    pos) — the shared tail of sentence-level decontamination and
    boilerplate removal.  ``keep`` passes extra ``docs`` columns
    through (pipelines keep url/host without a join back).  The corpus
    is never shuffled: the bad-position set (≪ corpus) rolls up per
    document and joins back (AQE picks broadcast when small, the
    common case), and the rebuild is a map-side indexed ``filter``
    over the re-split segment array — no explode-regroup of document
    text through an exchange."""
    bad_per_doc = bad.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("pos")).alias("bad_pos")
    )
    return docs.join(bad_per_doc, "doc_id", "left").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr(
            f"concat_ws('. ', filter(split({text_col}, '[.] '), "
            "(s, i) -> bad_pos IS NULL OR NOT array_contains(bad_pos, i)))"
        ).alias("clean_text"),
        F.coalesce(F.size("bad_pos"), F.lit(0)).cast("bigint").alias("n_dropped"),
        *keep,
    )


def boilerplate_segments(
    df: DataFrame,
    host_col: str = "host",
    min_docs: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """(host, seg_md5, n_docs): ``'. '``-delimited segments repeated
    across ≥ ``min_docs`` distinct documents of the SAME host — the
    per-domain boilerplate table (navigation, footers, cookie banners
    repeat within a site, not across the web).  Scale shape: the
    explode carries only (host, doc_id, md5) — document text never
    leaves its partition — and the (host, seg) aggregate is one
    map-side-combined shuffle on a high-cardinality composite key."""
    segs = df.select(
        F.col(host_col).alias("host"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.split(F.col(text_col), "[.] ")).alias("seg"),
    ).select("host", "doc_id", F.md5("seg").alias("seg_md5"))
    return (
        segs.groupBy("host", "seg_md5")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    df: DataFrame,
    host_col: str = "host",
    min_docs: int = 3,
    text_col: str = "text",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, clean_text, n_dropped [, *keep]): strip per-host
    boilerplate segments (see :func:`boilerplate_segments`) from every
    document — every document survives, shortened.  Scale shape: two
    hash-keyed exchanges on (host, seg_md5) — one to build the
    boilerplate table, one to flag positions — both carrying digests,
    never text; the rebuild is the shared map-side indexed filter.
    NOTE: ``df`` is referenced by three subplans (boilerplate table,
    position flags, rebuild) — cache it when it is itself expensive to
    recompute (the pipeline does)."""
    bp = boilerplate_segments(df, host_col, min_docs, text_col)
    segs = df.select(
        F.col(host_col).alias("host"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "[.] ")).alias("pos", "seg"),
    ).select("host", "doc_id", "pos", F.md5("seg").alias("seg_md5"))
    bad = segs.join(bp, ["host", "seg_md5"]).select("doc_id", "pos")
    return _drop_segment_positions(df, bad, text_col, keep=keep)


# ----------------------------------------------------------------------
# Exact-substring repetition across documents (the windowed
# approximation of suffix-array substring dedup, Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better"): hash
# every overlapping `width`-word window and find windows whose hash
# occurs in more than one document.  Scale shape: the explode is
# map-only (~n_words rows per doc, each row a fixed md5 digest, not
# the window text); the (n_docs, n_occurrences) aggregate is Spark's
# two-phase distinct plan — partial-agg by (wh, doc_id), exchange,
# then the per-digest rollup — both phases map-side combined, and the
# second phase runs on already-collapsed (wh, doc_id) rows, not raw
# windows.  The per-doc span report joins back on the digest — never
# on text.  A df-style cap bounds boilerplate-dominated window hashes
# exactly like the shingle df_cap.


def _window_hash_expr(width: int) -> str:
    # md5 over the space-joined window; split once into `ws`
    return (
        f"transform(sequence(1, size(ws) - {width - 1}), "
        f"j -> struct(j - 1 AS pos, md5(concat_ws(' ', slice(ws, j, {width}))) AS wh))"
    )


def repeated_windows(
    df: DataFrame, width: int = 20, text_col: str = "text", df_cap: int = 1024
) -> DataFrame:
    """Cross-document repeated ``width``-word windows:
    (wh, n_docs, n_occurrences), restricted to windows seen in ≥ 2
    distinct documents.  Hashes occurring more than ``df_cap`` times
    total are dropped — the boilerplate guard, applied as a HAVING on
    the same aggregate (no extra shuffle), mirroring the shingle
    df_cap convention."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    ws = (
        ensure_min_parallelism(df)
        .select("doc_id", F.split(F.col(text_col), " ").alias("ws"))
        .where(F.expr(f"size(ws) >= {width}"))
    )
    wins = ws.select(
        "doc_id", F.explode(F.expr(_window_hash_expr(width))).alias("w")
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.wh").alias("wh"))
    return (
        wins.groupBy("wh")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .where((F.col("n_docs") >= 2) & (F.col("n_occurrences") <= df_cap))
    )


def repeated_spans(
    df: DataFrame, width: int = 20, text_col: str = "text", df_cap: int = 1024
) -> DataFrame:
    """Per-document spans of cross-document repeated windows:
    (doc_id, pos, wh) — word offset ``pos`` where a window starts that
    also appears in at least one other document.  Downstream cutters
    merge overlapping spans and excise [pos, pos+width) runs; this
    operator only REPORTS them (cut policy is corpus-specific).

    The join back is digest-keyed: the repeated set is typically a
    tiny fraction of all windows, so AQE broadcasts it at runtime."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    rep = repeated_windows(df, width, text_col, df_cap).select("wh")
    ws = (
        ensure_min_parallelism(df)
        .select("doc_id", F.split(F.col(text_col), " ").alias("ws"))
        .where(F.expr(f"size(ws) >= {width}"))
    )
    wins = ws.select(
        "doc_id", F.explode(F.expr(_window_hash_expr(width))).alias("w")
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("w.pos").cast("bigint").alias("pos"),
        F.col("w.wh").alias("wh"),
    )
    return wins.join(rep, "wh").select("doc_id", "pos", "wh")


def stratified_sample(
    df: DataFrame,
    rates_e4: dict,
    default_e4: int = 0,
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling — the mixture-weighting step
    of a training-data pipeline (down-weight crawl-heavy sources,
    up-weight curated ones).  ``rates_e4`` maps stratum value →
    acceptance rate in 1e-4 units; strata absent from the map get
    ``default_e4``.

    The rate map is policy configuration (benchmark-sized, not data),
    so it compiles to a plan-time CASE literal: the whole operator is
    ONE map-only filter — no join, no shuffle, same md5-domain
    semantics as :func:`sample_by_hash` (a row kept at rate r is also
    kept at every rate ≥ r, so mixtures are monotone and slices nest).
    Integer threshold math end-to-end — bit-identical across engines.
    """
    cases = " ".join(
        "WHEN '{}' THEN {}".format(str(s).replace("'", "''"), int(r))
        for s, r in sorted(rates_e4.items())
    )
    if cases:
        rate = f"(CASE {source_col} {cases} ELSE {int(default_e4)} END)"
    else:
        rate = str(int(default_e4))
    h = f"CAST(conv(substring(md5(CAST({key_col} AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    return df.where(F.expr(f"{h} < ({rate} * {1 << 32}) div 10000"))


def repeated_window_stats(
    df: DataFrame, width: int = 20, text_col: str = "text", df_cap: int = 1024
) -> DataFrame:
    """No-silent-caps accounting for :func:`repeated_windows`: one row
    (n_window_hashes, n_repeated, n_capped, occurrences_capped) — how
    many distinct window digests exist, how many are cross-document
    repeats, and how much repeat mass the ``df_cap`` HAVING guard
    silently removed from the report (same monitoring convention as
    ``lsh_bucket_stats`` / ``shingle_df_stats``)."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    ws = (
        ensure_min_parallelism(df)
        .select("doc_id", F.split(F.col(text_col), " ").alias("ws"))
        .where(F.expr(f"size(ws) >= {width}"))
    )
    wins = ws.select(
        "doc_id", F.explode(F.expr(_window_hash_expr(width))).alias("w")
    ).select("doc_id", F.col("w.wh").alias("wh"))
    per = wins.groupBy("wh").agg(
        F.countDistinct("doc_id").alias("nd"), F.count(F.lit(1)).alias("no")
    )
    rep = (F.col("nd") >= 2).cast("int")
    capped = ((F.col("nd") >= 2) & (F.col("no") > df_cap)).cast("int")
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_window_hashes"),
        F.sum(rep).cast("bigint").alias("n_repeated"),
        F.sum(capped).cast("bigint").alias("n_capped"),
        F.coalesce(F.sum(F.col("no") * capped), F.lit(0))
        .cast("bigint")
        .alias("occurrences_capped"),
    )


def vocab_topk(df: DataFrame, vocab_size: int = 1000, text_col: str = "text") -> DataFrame:
    """Global top-``vocab_size`` vocabulary by corpus frequency:
    (word, n).  Ties break lexicographically so the vocabulary is
    deterministic.  One explode + one keyed agg (map-side combined) +
    a single top-k sort over the AGGREGATED word table (vocabulary-
    sized, not corpus-sized)."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    counts = (
        ensure_min_parallelism(df)
        .select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return counts.orderBy(F.desc("n"), "word").limit(vocab_size)


def oov_stats(df: DataFrame, vocab_size: int = 1000, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_oov, oov_ratio_e4) — out-of-vocabulary
    token share against the corpus' own top-``vocab_size`` vocabulary.
    The deterministic cousin of perplexity bucketing (CCNet-style):
    documents full of rare/garbled tokens score high and get routed to
    lower-quality buckets.  Integer-exact end to end (counts and an
    e4-rounded ratio), so the oracle compares bit-for-bit.

    Scale shape: the vocabulary is by construction ``vocab_size`` rows
    → broadcast; the corpus side is one explode + broadcast left join
    + one doc-keyed agg (map-side combined).  The corpus is never
    shuffled on a word key."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    vocab = vocab_topk(df, vocab_size, text_col).select("word")
    # the corpus-side explode needs the same under-parallel-input
    # guard as the vocab build — a one-row-group scan otherwise runs
    # the whole per-word pass in a single task
    toks = ensure_min_parallelism(df).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    return (
        toks.join(F.broadcast(vocab.withColumn("iv", F.lit(1))), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("iv").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") * 10000.0 / F.col("n_tokens"))
            .cast("bigint")
            .alias("oov_ratio_e4"),
        )
    )


# word-bigram explode (NOT distinct — a language model counts
# multiplicity, unlike the shingle/gram dedup expressions)
_BIGRAM_EXPR = "transform(sequence(1, size(ws) - 1), j -> concat_ws(' ', slice(ws, j, 2)))"


def bigram_lm(df: DataFrame, lm_size: int = 4096, text_col: str = "text") -> DataFrame:
    """(bigram, n): the corpus' top-``lm_size`` word bigrams by
    frequency — the count-based language model behind
    :func:`lm_coverage`.  Ties break lexicographically so the model is
    deterministic.  Same shape as :func:`vocab_topk`: one explode, one
    map-side-combined keyed agg, one top-k over the AGGREGATED bigram
    table (model-sized, not corpus-sized)."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    counts = (
        ensure_min_parallelism(df)
        .select(F.split(F.col(text_col), " ").alias("ws"))
        .where(F.expr("size(ws) >= 2"))
        .select(F.explode(F.expr(_BIGRAM_EXPR)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return counts.orderBy(F.desc("n"), "bigram").limit(lm_size)


def lm_coverage(
    df: DataFrame,
    lm: DataFrame | None = None,
    lm_size: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, n_known, known_mass, coverage_e4) — the
    integer-exact stand-in for CCNet's LM-perplexity fluency filter:
    instead of float log-perplexity (whose cross-engine sum-order / ulp
    drift would break oracle hashing) a document is scored by how much
    of it the count LM has seen — the fraction of its bigrams present
    in the model (``coverage_e4``) and the integer sum of their corpus
    counts (``known_mass``).  Garbled / boilerplate-shuffled documents
    score low on coverage exactly as they score high on perplexity.
    Documents under 2 words have no bigrams and are absent (same
    convention as :func:`contamination`).

    ``lm`` overrides the model (e.g. one built on a trusted reference
    corpus — the actual CCNet setup); default is the corpus' own
    :func:`bigram_lm`.  Scale shape: the model is ``lm_size`` rows →
    broadcast left join; the corpus side is one explode + one
    doc-keyed agg (map-side combined) and is never shuffled on a
    bigram key."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    if lm is None:
        lm = bigram_lm(df, lm_size, text_col)
    # corpus-side explode guarded like the model build's: without it
    # the whole bigram → broadcast-probe → doc-agg pass pinned to one
    # task on a one-row-group scan (the driver-measured 2.98 s at sf1
    # was this single task)
    bg = (
        ensure_min_parallelism(df).select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.split(F.col(text_col), " ").alias("ws"),
        )
        .where(F.expr("size(ws) >= 2"))
        .select("doc_id", F.explode(F.expr(_BIGRAM_EXPR)).alias("bigram"))
    )
    return (
        bg.join(F.broadcast(lm), "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.count("n").cast("bigint").alias("n_known"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("known_mass"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_known",
            "known_mass",
            F.round(F.col("n_known") * 10000.0 / F.col("n_bigrams"))
            .cast("bigint")
            .alias("coverage_e4"),
        )
    )


def mixture_rates(
    df: DataFrame,
    target_shares_e4: dict,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(source, n_tokens, rate_e4) — the acceptance rates that reshape
    the corpus into a target token mixture: sources are downsampled so
    surviving tokens arrive in proportion ``target_shares_e4``, with
    the binding source (the one that runs out first relative to its
    target) kept whole at rate 10000.  Feed the result into
    :func:`stratified_sample` for the actual map-only sampling pass.

    Determinism: the binding source is chosen by ordering on the
    single-op double ratio n_tokens/share (IEEE division is correctly
    rounded, so both engines order identically; ties break by source),
    and each rate is then ONE integer floor division —
    ``(10000·p_s·T_b) div (p_b·T_s)`` — bit-exact across engines.
    BIGINT-safe while per-source token counts stay under ~9·10¹⁰; at
    full 100 TB scale compute the rates over a
    :func:`sample_by_hash` calibration slice instead (rates are
    scale-free), which also keeps this aggregate cheap.

    Scale shape: one map-side-combined groupBy(source) over token
    counts; everything after operates on the sources-sized table (a
    deliberate 1-row broadcast cross join for the binding constants).
    Sources absent from ``target_shares_e4`` (or mapped to 0) get no
    row — their documents are dropped entirely by the downstream
    sampler, matching ``stratified_sample(default_e4=0)``."""
    cases = " ".join(
        "WHEN '{}' THEN {}".format(str(s).replace("'", "''"), int(r))
        for s, r in sorted(target_shares_e4.items())
    )
    share = f"(CASE source {cases} ELSE 0 END)" if cases else "0"
    tok = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.sum(F.expr(f"size(split({text_col}, ' '))"))
            .cast("bigint")
            .alias("n_tokens")
        )
        .withColumn("p_e4", F.expr(f"CAST({share} AS BIGINT)"))
        .where(F.col("p_e4") > 0)
    )
    binding = (
        tok.orderBy(
            (F.col("n_tokens").cast("double") / F.col("p_e4")).asc(), "source"
        )
        .limit(1)
        .select(F.col("n_tokens").alias("_tb"), F.col("p_e4").alias("_pb"))
    )
    return tok.crossJoin(F.broadcast(binding)).select(
        "source",
        "n_tokens",
        F.expr(
            "least(CAST(10000 AS BIGINT), "
            "(10000 * p_e4 * _tb) div (_pb * n_tokens))"
        ).alias("rate_e4"),
    )


def _quality_fail_expr(
    text_col: str,
    min_tokens: int,
    min_stopword_ratio_e4: int,
    min_alpha_ratio_e4: int,
) -> str:
    """SQL predicate: document FAILS the quality thresholds — the
    inline form of ``NOT quality_filter``, for operators computing the
    flag inside a larger single projection (same e4-rounded formulas
    as :func:`quality_stats`, so verdicts agree bit-for-bit).

    The stopword disjunct is omitted when its threshold is ≤ 0: the
    ratio is never NULL (``size(split(..))`` ≥ 1) and never negative,
    so ``ratio < 0`` is statically false — skipping it saves a
    per-word stopword scan per row with an identical verdict (the
    other two disjuncts keep their NULL semantics and always stay)."""
    stop = _in_list(STOPWORDS)
    stop_term = (
        f" OR CAST(round(10000.0 * size(filter(split({text_col}, ' '), w -> w IN ({stop})))"
        f" / size(split({text_col}, ' '))) AS BIGINT) < {min_stopword_ratio_e4}"
        if min_stopword_ratio_e4 > 0
        else ""
    )
    return (
        f"(size(split({text_col}, ' ')) < {min_tokens}"
        f"{stop_term}"
        f" OR CAST(round(10000.0 * length(regexp_replace({text_col}, '[^a-z]', ''))"
        f" / length({text_col})) AS BIGINT) < {min_alpha_ratio_e4})"
    )


def top_word_frac_e4_expr(text_col: str = "text") -> str:
    """Row-local SQL for ``repetition_stats``' ``top_word_frac_e4``
    (most-frequent-word share, e4-rounded BIGINT): sort the word array,
    take the longest equal-run.  Identical integer math to the
    explode→groupBy path — ``round(top_count * 10000.0 / n_words)`` —
    but map-only: no (doc, word) shuffle, so a pipeline gating on this
    signal stays in the same narrow stage as the projection it sits in
    (the 100 TB shape; the full :func:`repetition_stats` view keeps the
    grouped form for its other columns).

    Spark does not hoist loop-invariant subexpressions out of
    higher-order-function lambdas (see ``chunk_tokens``), so the
    sorted array and the run-start index list are each bound ONCE as
    a lambda variable via the ``transform(array(x), v -> ..)[1]``
    idiom instead of being textually repeated."""
    sw_val = f"array_sort(split({text_col}, ' '))"
    # the ``if`` keeps element_at(sw, 0) from ever being evaluated,
    # whatever order an ``OR`` would evaluate its operands in
    starts_val = (
        "filter(sequence(1, size(sw)), "
        "j -> if(j = 1, true, element_at(sw, j) != element_at(sw, j - 1)))"
    )
    top = (
        "array_max(transform(sequence(1, size(st)), "
        "i -> if(i < size(st), element_at(st, i + 1), "
        "size(sw) + 1) - element_at(st, i)))"
    )
    frac = f"CAST(round({top} * 10000.0 / size(sw)) AS BIGINT)"
    return (
        f"element_at(transform(array({sw_val}), sw -> "
        f"element_at(transform(array({starts_val}), st -> {frac}), 1)"
        f"), 1)"
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 40,
    min_stopword_ratio_e4: int = 100,
    min_alpha_ratio_e4: int = 7000,
) -> DataFrame:
    """The one-row dataset card: (n_docs, n_tokens, n_chars,
    mean_doc_tokens_e4, n_distinct_md5, n_exact_dup_docs,
    n_quality_pass, n_en, n_es, n_de, n_fr) — the summary a corpus
    release datasheet opens with, computed in ONE pass: every signal
    lives in the same map-only projection and rolls up in one
    map-side-combined aggregate (the distinct-digest count adds
    Spark's standard two-phase distinct expansion, over 32-char
    digests only — never text)."""
    fail = _quality_fail_expr(
        text_col, min_tokens, min_stopword_ratio_e4, min_alpha_ratio_e4
    )
    proj = df.selectExpr(
        f"md5({text_col}) AS fp",
        f"CAST(size(split({text_col}, ' ')) AS BIGINT) AS n_toks",
        f"CAST(length({text_col}) AS BIGINT) AS nc",
        f"CAST(CASE WHEN {fail} THEN 0 ELSE 1 END AS BIGINT) AS ok",
        f"{_lang_case(text_col)} AS lang",
    )
    agg = proj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum("nc").cast("bigint").alias("n_chars"),
        F.countDistinct("fp").cast("bigint").alias("n_distinct_md5"),
        F.sum("ok").cast("bigint").alias("n_quality_pass"),
        *[
            F.sum(F.when(F.col("lang") == lg, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{lg}")
            for lg in ("en", "es", "de", "fr")
        ],
    )
    return agg.select(
        "n_docs",
        "n_tokens",
        "n_chars",
        F.round(F.col("n_tokens") * 10000.0 / F.col("n_docs"))
        .cast("bigint")
        .alias("mean_doc_tokens_e4"),
        "n_distinct_md5",
        (F.col("n_docs") - F.col("n_distinct_md5"))
        .cast("bigint")
        .alias("n_exact_dup_docs"),
        "n_quality_pass",
        "n_en",
        "n_es",
        "n_de",
        "n_fr",
    )


def vocab_drift(
    a: DataFrame, b: DataFrame, vocab_size: int = 1000, text_col: str = "text"
) -> DataFrame:
    """One row (n_vocab, n_words_a, n_words_b, tv_distance_e4):
    total-variation distance between two corpora's word distributions
    over the UNION of their top-``vocab_size`` vocabularies, with each
    side's remaining words lumped into an OOV bucket — the drift
    monitor between crawl batches (a distribution shift here means the
    new batch needs re-calibrated quality/mixture settings before it
    joins the corpus).

    Integer-exact: per-word drift terms are ``|ca·Tb − cb·Ta|``
    (BIGINT products), summed exactly, with ONE final division
    ``round(10000·Σ / (2·Ta·Tb))`` — no float crosses an aggregation.
    BIGINT-safe while ``max_word_count · total_words`` stays under
    2⁶³; at full scale run it over a :func:`sample_by_hash`
    calibration slice (the distance is scale-free), as with
    :func:`mixture_rates`.

    Scale shape: two map-side-combined word aggs (corpus-sized
    stages); everything downstream operates on the ≤ 2·vocab_size
    union vocabulary with 1-row total tables broadcast."""
    def _counts(df):
        from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

        return (
            ensure_min_parallelism(df)
            .select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )

    wa = _counts(a)
    wb = _counts(b)
    uni = (
        wa.orderBy(F.desc("c"), "word").limit(vocab_size).select("word")
        .union(wb.orderBy(F.desc("c"), "word").limit(vocab_size).select("word"))
        .distinct()
    )
    j = (
        uni.join(wa.withColumnRenamed("c", "ca"), "word", "left")
        .join(wb.withColumnRenamed("c", "cb"), "word", "left")
        .select(
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    tot = wa.agg(F.sum("c").cast("bigint").alias("ta")).crossJoin(
        wb.agg(F.sum("c").cast("bigint").alias("tb"))
    )
    core = j.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.first("ta").alias("ta"),
        F.first("tb").alias("tb"),
        F.sum(F.abs(F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta")))
        .cast("bigint")
        .alias("s_in"),
        F.sum("ca").cast("bigint").alias("ia"),
        F.sum("cb").cast("bigint").alias("ib"),
    )
    return core.select(
        "n_vocab",
        F.col("ta").alias("n_words_a"),
        F.col("tb").alias("n_words_b"),
        F.round(
            (
                F.col("s_in")
                + F.abs(
                    (F.col("ta") - F.col("ia")) * F.col("tb")
                    - (F.col("tb") - F.col("ib")) * F.col("ta")
                )
            )
            * 10000.0
            / (2 * F.col("ta") * F.col("tb"))
        )
        .cast("bigint")
        .alias("tv_distance_e4"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Per-document top-``k`` salient terms by tf·rarity:
    (doc_id, word, tf, df, score_e4, rank) where ``score_e4 =
    round(10000 · tf / df)`` and ``df`` is the number of documents
    containing the word.  The tf/df ratio is the exact-integer member
    of the tf-idf family — log-idf ranks identically for a fixed tf
    but its float log differs in ulps across engines, which would
    break the bit-for-bit oracle.  Ties break (score desc, word asc)
    so the top-k set is deterministic.

    Scale shape: term frequencies are one (doc, word)-keyed agg
    (map-side combined); document frequencies reuse that aggregate
    (one row per doc-word → count = df) rather than re-scanning the
    corpus; the tf⋈df join shuffles on the word key with both sides
    already aggregate-sized; top-k is a doc-partitioned window over
    k·docs candidate rows, never a global sort."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    toks = ensure_min_parallelism(df).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    tf = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfs = tf.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = tf.join(dfs, "word").select(
        "doc_id",
        "word",
        "tf",
        "df",
        F.round(F.col("tf") * 10000.0 / F.col("df")).cast("bigint").alias("score_e4"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score_e4"), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("doc_id", "word", "tf", "df", "score_e4", "rank")
    )


def importance_sample(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Soft quality-weighted resampling (the deterministic cousin of
    DCLM-style importance sampling): instead of a hard quality cutoff,
    each document is kept with probability proportional to its quality
    proxy — here the alpha ratio already used by ``quality_stats`` —
    by comparing a reproducible md5-uniform against the weight.  A
    borderline document is downsampled, not discarded; weights and the
    keep decision are exact-integer so the oracle matches bit-for-bit.

    keep ⇔ u32(md5(doc_id)) · 10000 < weight_e4 · 2³²

    Map-only (no shuffle, no RNG state): embarrassingly parallel and
    stable under retries/resume at 10^12 rows.  Returns the kept rows
    as (doc_id, weight_e4)."""
    weight = (
        f"CAST(round(10000.0 * length(regexp_replace({text_col}, '[^a-z]', ''))"
        f" / length({text_col})) AS BIGINT)"
    )
    u32 = "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    return df.where(F.expr(f"{u32} * 10000 < {weight} * {1 << 32}")).selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id", f"{weight} AS weight_e4"
    )


def classifier_weights(n_buckets: int = 256) -> list[int]:
    """Deterministic integer weights of the hashed linear quality
    classifier: w(b) = u32(md5('w|b')) % 2001 − 1000 ∈ [−1000, 1000].
    A stand-in for a trained fastText/CCNet-style model's bucket
    weights — computed ONCE at plan-build time (driver side) so both
    the Spark expression and the DuckDB oracle embed the identical
    literal vector."""
    import hashlib

    return [
        int(hashlib.md5(f"w|{b}".encode()).hexdigest()[:8], 16) % 2001 - 1000
        for b in range(n_buckets)
    ]


def classifier_score_sql(text_col: str = "text", n_buckets: int = 256) -> str:
    """The classifier score as one SQL expression (shared by
    :func:`quality_classifier` and map-only pipeline gates — a filter
    on this expression never shuffles)."""
    w = classifier_weights(n_buckets)
    warr = "array(" + ",".join(f"{x}L" for x in w) + ")"
    u32 = "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)"
    return (
        f"aggregate(split({text_col}, ' '), 0L, "
        f"(acc, t) -> acc + element_at({warr}, CAST({u32} % {n_buckets} AS INT) + 1))"
    )


def quality_classifier(
    df: DataFrame, n_buckets: int = 256, text_col: str = "text"
) -> DataFrame:
    """fastText/CCNet-style hashed linear quality classifier:
    score(doc) = Σ_w weights[u32(md5(w)) mod B], label = score > 0.
    Returns (doc_id, n_tokens, score, label) — all exact integers, so
    the oracle compares bit-for-bit (a real model's float weights
    rank identically for a fixed hash family).

    Scale shape: the whole model rides in the plan as a B-element
    literal array (a trained hash-bucket model is KBs — plan literal /
    broadcast territory, never a shuffled join side), and the score is
    one ``aggregate`` over the token array — MAP-ONLY, zero shuffle,
    zero Python; at 10^12 docs this is embarrassingly parallel and
    retry-stable, the same plan-literal pattern as
    :func:`stratified_sample`."""
    score = classifier_score_sql(text_col, n_buckets)
    return df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        f"CAST(size(split({text_col}, ' ')) AS BIGINT) AS n_tokens",
        f"{score} AS score",
    ).selectExpr("doc_id", "n_tokens", "score", "score > 0 AS label")


def word_freq_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf-style frequency-of-frequencies: (freq, n_words) — how many
    distinct words occur exactly ``freq`` times.  The standard corpus
    health plot (a natural corpus is ~log-linear; dedup failures and
    boilerplate floods bend it).

    Scale shape: two keyed aggregations, both map-side combined — the
    first collapses the token stream to |vocab| rows, the second
    collapses vocab to |distinct freqs| rows; no row ever carries text
    past the first exchange."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    counts = (
        ensure_min_parallelism(df)
        .select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return counts.groupBy("freq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words")
    ).select(F.col("freq").cast("bigint"), "n_words")


def holdout_split(
    df: DataFrame, group_col: str = "source", val_pct: int = 10
) -> DataFrame:
    """Leakage-free train/validation assignment: the md5-uniform split
    is keyed on the GROUP (host/source), never the document, so near-
    duplicate documents sharing a group can never straddle the split —
    the contamination channel a doc-keyed split leaves open.

    Map-only (plan-literal threshold, no join, no shuffle, no RNG);
    returns (doc_id, <group_col>, split)."""
    u32 = f"CAST(conv(substring(md5({group_col}), 1, 8), 16, 10) AS BIGINT)"
    thr = (val_pct * (1 << 32)) // 100
    return df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        group_col,
        f"CASE WHEN {u32} < {thr} THEN 'val' ELSE 'train' END AS split",
    )


def url_features(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-URL quality/filtering signals (the RefinedWeb/C4-style URL
    layer: scheme, host shape, path depth, query noise).  Pure JVM SQL
    — ``parse_url`` + string kernels in whole-stage codegen; map-only.

    Appends: ``host, tld, path_depth, n_params, is_https,
    has_tracking, url_len``.
    """
    host = f"parse_url({url_col}, 'HOST')"
    path = f"parse_url({url_col}, 'PATH')"
    query = f"parse_url({url_col}, 'QUERY')"
    return df.selectExpr(
        "*",
        f"{host} AS host",
        f"substring_index({host}, '.', -1) AS tld",
        # '/a/b' -> 2; '/' and '' -> 0 (trim edge slashes, count segs)
        f"CAST(CASE WHEN {path} IS NULL OR trim(BOTH '/' FROM {path}) = '' THEN 0 "
        f"ELSE size(split(trim(BOTH '/' FROM {path}), '/')) END AS BIGINT) AS path_depth",
        f"CAST(CASE WHEN {query} IS NULL OR {query} = '' THEN 0 "
        f"ELSE size(split({query}, '&')) END AS BIGINT) AS n_params",
        f"{url_col} LIKE 'https://%' AS is_https",
        f"{url_col} RLIKE '[?&](utm_[a-z]+|fbclid|gclid|mc_eid)=' AS has_tracking",
        f"CAST(length({url_col}) AS BIGINT) AS url_len",
    )


def top_k_per_group(
    df: DataFrame,
    k: int,
    group_col: str,
    order_expr: str,
    key_col: str = "doc_id",
    salt_buckets: int = 16,
) -> DataFrame:
    """Keep the top ``k`` rows of every group under ``(order_expr asc,
    key asc)`` — :func:`cap_per_host` generalized to an arbitrary
    deterministic ordering (best-N-docs-per-source selection, error
    triage, per-host sampling).  Same two-phase skew safety: phase 1
    ranks within ``(group, hash-salt)`` keeping ≤ k per salted bucket
    (a hot group spreads over ``salt_buckets`` bounded tasks), phase 2
    re-ranks the ≤ k·salt_buckets survivors exactly — every member of
    the true top-k is in its own bucket's top-k, so the result is
    IDENTICAL to the single-window form."""
    from pyspark.sql.window import Window

    order = (F.expr(order_expr), F.col(key_col))
    salt = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(salt_buckets))
    w1 = Window.partitionBy(F.col(group_col), salt).orderBy(*order)
    w2 = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("_sr", F.row_number().over(w1))
        .where(F.col("_sr") <= k)
        .withColumn("_gr", F.row_number().over(w2))
        .where(F.col("_gr") <= k)
        .drop("_sr", "_gr")
    )

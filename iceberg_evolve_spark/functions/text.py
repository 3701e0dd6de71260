"""Text-analysis operators for large-scale corpus pipelines.

All pure ``pyspark.sql.functions`` column expressions — no UDFs — so they run
inside whole-stage codegen and cost one narrow map stage at any scale. Every
operator has an exact ANSI-SQL twin used by the DuckDB oracle (the formulas are
deliberately portable: integer/double arithmetic, regex, list lambdas).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from iceberg_evolve_spark.functions.hashing import hash60

#: Stopword list used by quality scoring (English function words; also doubles as
#: the "en" marker list for language ID).
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "be", "this", "that",
]

#: Per-language marker words for the n-gram/stopword language-ID heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "is", "in", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "dans", "que", "pas"],
    "es": ["el", "los", "las", "y", "es", "una", "por", "para", "con", "no"],
}

#: Punctuation class counted by punct_ratio (keep in sync with the oracle SQL).
PUNCT_CLASS = r"[.,!?;:]"

#: BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space symbols.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the lowercased text (empty strings removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats + a bounded quality score.

    Columns added: ``n_tokens``, ``avg_token_len``, ``punct_ratio``,
    ``stopword_ratio``, ``quality_score``. The quality score is::

        0.4 * min(1, n_tokens/100)          # enough content
      + 0.3 * (1 - punct_ratio)             # not symbol soup
      + 0.3 * min(1, 4 * stopword_ratio)    # natural-language-like

    One narrow projection; no shuffle at any scale.
    """
    from iceberg_evolve_spark.functions.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    toks = tokens(text_col)
    text = F.col(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))

    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    # Σ length(token) as length(concat_ws("", toks)) — bit-identical (tokens
    # are non-null, the separator is empty) but one codegen expression
    # instead of an interpreted per-element fold (§4.1: higher-order
    # lambdas evaluate interpreted per element).
    avg_tok = F.when(
        n_tokens > 0,
        F.length(F.concat_ws("", toks)) / n_tokens,
    ).otherwise(F.lit(0.0))
    quality = (
        0.4 * F.least(F.lit(1.0), n_tokens / F.lit(100.0))
        + 0.3 * (F.lit(1.0) - punct_ratio)
        + 0.3 * F.least(F.lit(1.0), 4.0 * stop_ratio)
    )
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("avg_token_len", avg_tok.cast("double"))
        .withColumn("punct_ratio", punct_ratio.cast("double"))
        .withColumn("stopword_ratio", stop_ratio.cast("double"))
        .withColumn("quality_score", quality.cast("double"))
    )


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "pred_lang") -> DataFrame:
    """Heuristic language ID: marker-stopword voting + a CJK-codepoint check.

    Adds ``<lang>_score`` per candidate and ``out_col`` with the argmax
    (ties broken in fixed order en > de > fr > es; zh wins on any CJK hit;
    'und' when every score is zero). Pure projection — scales linearly.
    """
    from iceberg_evolve_spark.functions.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    toks = tokens(text_col)
    scored = df
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(w) for w in markers])
        scored = scored.withColumn(
            f"{lang}_score", F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        )
    cjk = F.length(
        F.regexp_replace(F.col(text_col), r"[^一-鿿]", "")
    )
    scored = scored.withColumn("zh_score", cjk)

    best = F.greatest(*[F.col(f"{k}_score") for k in [*LANG_MARKERS, "zh"]])
    pred = F.when(F.col("zh_score") > 0, F.lit("zh"))
    for lang in LANG_MARKERS:  # fixed priority order for ties
        pred = pred.when(F.col(f"{lang}_score") == best, F.lit(lang))
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return scored.withColumn(out_col, pred)


def ngram_repetition(
    df: DataFrame, text_col: str = "text", k: int = 3, out_col: str = "dup_ngram_frac"
) -> DataFrame:
    """Repetition score (the Gopher-rules quality signal): the fraction of
    word ``k``-grams that are repeats of an earlier occurrence —
    ``1 - distinct/total``. Boilerplate, chart spam, and degenerate generations
    score high; natural prose scores near 0. Pure codegen projection
    (sequence/transform/array_distinct), no shuffle, linear at any scale.
    Adds ``n_ngrams`` and ``out_col``; documents shorter than ``k`` tokens get
    0 n-grams and fraction 0.0."""
    from iceberg_evolve_spark.functions.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    toks = tokens(text_col)
    n = F.size(toks)
    positions = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(positions, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    total = F.size(grams)
    frac = F.when(
        total > 0, 1.0 - F.size(F.array_distinct(grams)) / total
    ).otherwise(F.lit(0.0))
    return df.withColumn("n_ngrams", total).withColumn(
        out_col, frac.cast("double")
    )


#: Gopher rule thresholds (Rae et al., "Scaling Language Models: Methods,
#: Analysis & Insights from Training Gopher", arXiv:2112.11446, Table A1).
GOPHER_MIN_TOKENS = 50
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MAX_TOP_2GRAM_FRAC = 0.20


def gopher_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The Gopher document-quality rule battery (the repetition-aware signals
    that complement :func:`add_text_stats`' length/punct/stopword score and
    :func:`ngram_repetition`'s duplicate-fraction).

    Columns added per document:

    - ``n_tokens`` — whitespace token count (rule: 50..100k);
    - ``mean_word_len`` — average token length (rule: 3..10);
    - ``frac_alpha_words`` — fraction of tokens containing at least one
      alphabetic character (rule: >= 0.80 — filters symbol/number soup);
    - ``top_2gram_char_frac`` — fraction of document characters covered by
      occurrences of the single most frequent word 2-gram, ties broken by the
      lexicographically greatest gram (rule: <= 0.20 — catches degenerate
      loops and chart spam);
    - ``gopher_pass`` — AND of the four rules.

    Pure codegen projection (array lambdas over the token array — the
    most-frequent-gram scan is O(distinct²) *within one row*, never across
    rows), so the operator is one narrow map stage with zero shuffle at any
    corpus size; fractions are rounded to 6 so the DuckDB oracle's
    ``list_*`` replay compares bit-equal.
    """
    from iceberg_evolve_spark.functions.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    # Staged via withColumn on purpose: inlining the gram-count lambda inside
    # the argmax lambda (which also embeds the max) builds a deeply nested
    # HigherOrderFunction tree that stalls Catalyst analysis — staging keeps
    # every lambda body referencing plain attributes, and CollapseProject
    # won't re-inline non-cheap duplicated expressions.
    staged = (
        df.withColumn("_toks", tokens(text_col))
        .withColumn("_n", F.size("_toks"))
        .withColumn("_nc", F.length(F.col(text_col)))
        .withColumn(
            "_grams",
            F.when(
                F.col("_n") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.col("_n") - 1),
                    lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, 2)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
        .withColumn("_dg", F.array_distinct("_grams"))
        .withColumn(
            "_counts",
            F.transform(
                F.col("_dg"),
                lambda g: F.size(F.filter(F.col("_grams"), lambda x: x == g)),
            ),
        )
        .withColumn("_maxc", F.coalesce(F.array_max("_counts"), F.lit(0)))
        .withColumn(
            "_best",
            F.array_max(
                F.zip_with(
                    F.col("_dg"),
                    F.col("_counts"),
                    lambda g, c: F.when(c == F.col("_maxc"), g),
                )
            ),
        )
    )
    n, n_chars = F.col("_n"), F.col("_nc")
    mean_word_len = F.when(
        n > 0,
        # length(concat_ws) == Σ length(token): codegen, not a per-element
        # interpreted fold (see add_text_stats)
        F.length(F.concat_ws("", F.col("_toks"))) / n,
    ).otherwise(F.lit(0.0))
    frac_alpha = F.when(
        n > 0, F.size(F.filter(F.col("_toks"), lambda t: t.rlike("[a-z]"))) / n
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        (F.col("_maxc") > 0) & (n_chars > 0),
        (F.col("_maxc") * F.length(F.col("_best"))) / n_chars,
    ).otherwise(F.lit(0.0))

    out = (
        staged.withColumn("n_tokens", n)
        .withColumn("mean_word_len", F.round(mean_word_len.cast("double"), 6))
        .withColumn("frac_alpha_words", F.round(frac_alpha.cast("double"), 6))
        .withColumn("top_2gram_char_frac", F.round(top_frac.cast("double"), 6))
        .drop("_toks", "_n", "_nc", "_grams", "_dg", "_counts", "_maxc", "_best")
    )
    gate = (
        F.col("n_tokens").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
        & F.col("mean_word_len").between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (F.col("frac_alpha_words") >= GOPHER_MIN_ALPHA_FRAC)
        & (F.col("top_2gram_char_frac") <= GOPHER_MAX_TOP_2GRAM_FRAC)
    )
    return out.withColumn("gopher_pass", gate)


def pack_token_sequences(
    df: DataFrame,
    id_col: str,
    group_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Assign documents to training sequences by token budget — the packing
    step before example construction.

    Within each ``group_col`` partition, documents are laid out in ``id_col``
    order along a cumulative token axis; a document's sequence id is
    ``floor(start_offset / budget)`` of its own start. This is contiguous-fill
    packing: deterministic, one window over the group key (scale-safe — the
    window partitions by group, never globally), and exactly reproducible in
    SQL. A document longer than ``budget`` still lands in one sequence (real
    pipelines split it first). Adds ``seq_id`` and ``seq_offset``.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(F.col(token_col)).over(w) - F.col(token_col)).cast("long")
    return df.withColumn("seq_offset", start).withColumn(
        "seq_id", F.floor(F.col("seq_offset") / F.lit(budget)).cast("long")
    )


#: Adjacent symbol pairs of the space-separated symbol string ``s`` (empty for
#: single-symbol words — Spark's sequence(1, 0) is DESCENDING, so guard).
_BPE_PAIRS = (
    "CASE WHEN size(split(trim(s), ' ')) >= 2 THEN "
    "transform(sequence(1, size(split(trim(s), ' ')) - 1), "
    "i -> struct(element_at(split(trim(s), ' '), i) AS a, "
    "element_at(split(trim(s), ' '), i + 1) AS b)) "
    "ELSE array() END"
)


def bpe_train_merges(
    df: DataFrame, text_col: str = "text", rounds: int = 4
) -> list[tuple[int, str, str, int]]:
    """TRAIN a byte-pair-encoding tokenizer on the corpus (Sennrich et al.,
    "Neural Machine Translation of Rare Words with Subword Units", ACL 2016):
    start from characters, repeatedly merge the adjacent symbol pair with the
    highest corpus weight. Returns ``[(round, left, right, weight), ...]`` —
    the learned merge table, which IS the tokenizer.

    Distribution shape (the standard trick): training runs on the WORD
    FREQUENCY HISTOGRAM, not the corpus — one token explode + one groupBy
    compresses 100 TB of text into a |vocab|-row state table, and every merge
    round is one tiny aggregation over it. Per round the top pair is read to
    the driver (ONE row — bounded, like IVF centroids) and applied as a
    single `replace` pass over the symbol strings.

    Determinism: pair weights are exact integer sums; ties break by
    (weight desc, left asc, right asc); the merge pass is leftmost
    non-overlapping string replace, which Spark and DuckDB implement
    identically — so an unrolled SQL oracle (`bpe_unrolled_sql`) replays the
    whole training bit-for-bit.

    Deviation from reference BPE (deliberate, for engine portability): the
    space-sentinel replace consumes the shared separator, so an immediate
    RUN of the winning pair ("a a a a") merges one occurrence per round
    where Sennrich's regex merges every non-overlapping occurrence in one
    pass ("aa aa"); pair counts likewise include overlapping occurrences.
    On natural-language words the winning pair is almost never an immediate
    self-repeat, so learned merges typically coincide — but this is a
    defined VARIANT, not byte-exact Sennrich/HF/sentencepiece behavior.
    """
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    seq = (
        "concat(' ', concat_ws(' ', "
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))), ' ')"
    )
    state = vocab.select("c", F.expr(seq).alias("s")).persist()
    prev: DataFrame | None = None
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, rounds + 1):
        top = (
            state.select("c", F.explode(F.expr(_BPE_PAIRS)).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("c").alias("wgt"))
            .orderBy(F.col("wgt").desc(), F.col("a").asc(), F.col("b").asc())
            .first()
        )
        # The top-pair aggregate above is the materializing action for this
        # round's state cache, so the PARENT round's cache (which this
        # state's plan read from) can be released only now — deferring the
        # unpersist one round removes the per-round count() job the old
        # shape paid purely to materialize before releasing.
        if prev is not None:
            prev.unpersist()
            prev = None
        if top is None:
            break
        merges.append((r, top["a"], top["b"], int(top["wgt"])))
        if r < rounds:
            # no child state after the FINAL round: the old shape built and
            # materialized one more replace pass whose result was never read
            nxt = state.withColumn(
                "s",
                F.replace(
                    F.col("s"),
                    F.lit(f" {top['a']} {top['b']} "),
                    F.lit(f" {top['a']}{top['b']} "),
                ),
            ).persist()
            prev, state = state, nxt
    state.unpersist()
    if prev is not None:
        prev.unpersist()
    return merges


def bpe_apply_merges(
    words: DataFrame,
    merges: list[tuple[int, str, str, int]],
    word_col: str = "w",
    out_col: str = "toks",
) -> DataFrame:
    """ENCODE with a trained tokenizer: apply the merge table from
    :func:`bpe_train_merges` to a relation of DISTINCT WORDS, in training
    order, as chained leftmost-non-overlapping replaces over the
    space-separated symbol string. Appends ``out_col`` (array<string> of
    final symbols) and keeps every input column.

    Scale shape (the same histogram trick as training): encoding runs on the
    word VOCABULARY, never the corpus — each merge is a pure string
    projection over |vocab| rows (all merges fuse into one whole-stage
    codegen span, zero shuffles), and the corpus token stream is then a
    vocab join away. This is exactly how production tokenizers amortize:
    encode each distinct word once, look the result up per occurrence."""
    seq = (
        f"concat(' ', concat_ws(' ', transform(sequence(1, length({word_col})), "
        f"i -> substring({word_col}, i, 1))), ' ')"
    )
    out = words.withColumn("_s", F.expr(seq))
    for _r, a, b, _wgt in merges:
        out = out.withColumn(
            "_s", F.replace(F.col("_s"), F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
        )
    return out.withColumn(out_col, F.split(F.trim(F.col("_s")), " ")).drop("_s")


def bpe_unrolled_ctes(rounds: int = 4, source: str = "documents") -> list[str]:
    """The CTE chain shared by the training oracle (:func:`bpe_unrolled_sql`)
    and the encode oracle: pair counting → top-1 merge → replace, per round.
    ``bpe_s{rounds}`` holds the final (c, symbol-string) state and
    ``bpe_t{r}`` the round-r winning pair."""
    toks = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"
    parts = [
        f"bpe_tok AS (SELECT unnest({toks}) AS w FROM {source})",
        "bpe_v AS (SELECT w, COUNT(*) AS c FROM bpe_tok GROUP BY w)",
        (
            "bpe_s0 AS (SELECT c, ' ' || array_to_string("
            "list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), ' ') || ' ' AS s "
            "FROM bpe_v)"
        ),
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""bpe_p{r} AS (
  SELECT sy[CAST(i AS INT)] AS a, sy[CAST(i AS INT) + 1] AS b,
         CAST(SUM(c) AS BIGINT) AS wgt
  FROM (SELECT c, string_split(trim(s), ' ') AS sy,
               unnest(range(1, len(string_split(trim(s), ' ')))) AS i
        FROM bpe_s{r - 1})
  GROUP BY 1, 2)"""
        )
        parts.append(
            f"bpe_t{r} AS (SELECT a, b, wgt FROM bpe_p{r} "
            f"ORDER BY wgt DESC, a ASC, b ASC LIMIT 1)"
        )
        parts.append(
            f"bpe_s{r} AS (SELECT c, replace(s, "
            f"(SELECT ' ' || a || ' ' || b || ' ' FROM bpe_t{r}), "
            f"(SELECT ' ' || a || b || ' ' FROM bpe_t{r})) AS s FROM bpe_s{r - 1})"
        )
    return parts


def bpe_unrolled_sql(rounds: int = 4, source: str = "documents") -> str:
    """DuckDB oracle twin of :func:`bpe_train_merges`: the same rounds
    unrolled as chained CTEs (pair counting → top-1 → replace), ending in the
    merge table ``(round, left, right, merged, weight)``."""
    parts = bpe_unrolled_ctes(rounds, source)
    heads = "\nUNION ALL ".join(
        f"SELECT {r} AS round, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, wgt AS weight FROM bpe_t{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\n{heads}\nORDER BY round"


def feature_hashing(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
) -> DataFrame:
    """Signed feature hashing (the "hashing trick", Weinberger et al.,
    "Feature hashing for large scale multitask learning", ICML 2009): each
    token maps to bucket ``hash(tok) % dim`` with sign ±1 from an independent
    hash bit; a document's feature vector is the per-bucket sum of signs.
    This is the vocabulary-free featurizer a 100 TB corpus can afford — no
    fitted dictionary, no OOV, dimensionality fixed up front, and (unlike
    MLlib's HashingTF, whose murmur bucketing is engine-internal) built on
    the portable md5 hash so the DuckDB oracle replays every weight.

    Output is the SPARSE triplet form ``(id, bucket, weight)`` — the
    representation that stays linear in corpus tokens at any ``dim``. One
    explode + one (id, bucket) aggregation with map-side combine; weights
    are exact integers (sums of ±1), so the result is partition-order
    independent. Densify downstream only where a model needs it.
    """
    from iceberg_evolve_spark.functions.hashing import hash60, hash60_seeded
    from iceberg_evolve_spark.functions.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_tok")
    )
    bucket = (hash60("_tok") % dim).cast("int")
    sign = (hash60_seeded("_tok", 1) % 2 * 2 - 1).cast("int")
    return (
        tok.select(id_col, bucket.alias("bucket"), sign.alias("_s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("_s").cast("bigint").alias("weight"))
    )


def feature_hashing_sql(dim: int = 64) -> str:
    """DuckDB twin of :func:`feature_hashing` over the ``documents`` view."""
    from iceberg_evolve_spark.functions.hashing import SEP, hash60_sql

    toks = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"
    h = hash60_sql("t")
    hs = hash60_sql(f"t || '{SEP}1'")
    return f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS t FROM documents)
SELECT doc_id, CAST({h} % {dim} AS INT) AS bucket,
       CAST(SUM({hs} % 2 * 2 - 1) AS BIGINT) AS weight
FROM tok GROUP BY doc_id, bucket
"""


#: Redaction patterns — deliberately the portable regex subset (no lookaround,
#: no backrefs) so Java (Spark) and RE2 (DuckDB, Go) engines match identically.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\d{3}-\d{4}",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Scrub PII-shaped substrings before a corpus enters training.

    Patterns apply SEQUENTIALLY in dict order, each replacing its matches with
    ``[PII]``; per-pattern counts are taken on the text as that pattern sees it
    (post-prior-redactions), summed into ``n_redactions``. Pure projection —
    one codegen'd pass, no shuffle, linear at any scale. Patterns must stay in
    the Java∩RE2 regex subset so external engines reproduce the result.
    """
    pats = patterns or PII_PATTERNS
    cur = F.col(text_col)
    total = F.lit(0)
    for pat in pats.values():
        total = total + F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
        cur = F.regexp_replace(cur, pat, "[PII]")
    return df.withColumn(out_col, cur).withColumn(
        "n_redactions", total.cast("int")
    )


def document_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint of the normalized text (lowercased, whitespace
    collapsed): hex md5 plus the portable 60-bit integer form. Exact-dedup key."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn("fingerprint", F.md5(norm)).withColumn(
        "fingerprint60", hash60(norm)
    )


def token_count_bpe(df: DataFrame, text_col: str = "text", out_col: str = "n_bpe_tokens") -> DataFrame:
    """BPE-ish token count: letter runs + digit runs + single symbols
    (a cheap, deterministic proxy for subword tokenizer cost accounting)."""
    return df.withColumn(
        out_col, F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0))
    )


def tf_idf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    ``score = tf · (ln((N + 1) / (df + 1)) + 1)`` (smoothed idf, scikit-learn
    convention), rounded to 6 decimals; ties broken by term asc so output is
    deterministic.

    Scale shape: explode → (doc, term) counts is the one wide shuffle (partial
    map-side combine shrinks it to the per-task distinct pairs); document
    frequency re-aggregates the *already-shrunk* (doc, term) relation, not the
    raw tokens; N joins in via a broadcast of a 1-row aggregate (no
    ``df.count()`` on the driver — the whole pipeline stays one lazy plan). The
    tf ⋈ idf join shuffles on term — vocabulary-sized, not corpus-sized.
    The final per-doc top-k is a window over the (doc, term) relation.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("dfreq") + 1))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select(id_col, "term", "tf", "score", F.col("_rn").alias("rank"))
    )


def remove_repeated_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level boilerplate removal (CCNet-style, segment granularity).

    Splits every document into non-overlapping ``k``-token segments, drops the
    segments that occur in >= ``min_docs`` *distinct* documents (headers,
    footers, license banners, templated spans — the text that inflates
    cross-document duplication without adding training signal), and reassembles
    the surviving segments in their original order.

    Output: (id, n_segments, n_removed, clean_text); documents whose every
    segment was boilerplate survive with ``clean_text = ''``.

    Scale shape: the segment split is array arithmetic inside codegen (no
    explode until the segment relation is needed); the doc-frequency pass is
    ONE shuffle on the segment hash with map-side partial aggregation, and its
    output (the boilerplate set) is vocabulary-sized, so it broadcasts back as
    a hash-anti-join — the corpus itself shuffles once more, on the id, for
    reassembly. No step is quadratic in corpus size; skew is bounded because a
    segment's duplicate count caps at the corpus doc count and the heavy
    groups collapse map-side.
    """
    from iceberg_evolve_spark.functions.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    toks = tokens(text_col)
    n_seg = F.ceil(F.size(toks) / F.lit(k)).cast("int")
    # NB: sequence(0, -1) infers a DESCENDING step in Spark, so the zero-token
    # case must short-circuit to an empty array explicitly.
    seg_idx_arr = F.when(n_seg > 0, F.sequence(F.lit(0), n_seg - 1)).otherwise(
        F.array().cast("array<int>")
    )
    with_chunks = df.select(
        F.col(id_col),
        F.transform(
            seg_idx_arr,
            lambda i: F.array_join(F.slice(toks, i * k + 1, k), " "),
        ).alias("_segs"),
        # segment COUNT computed from the token count alone: the `base`
        # branch below then never rebuilds the segment strings (a second
        # tokenize+concat pass over the whole corpus) just to take a size.
        n_seg.alias("_n_segments"),
    )
    seg = with_chunks.select(
        id_col, F.posexplode("_segs").alias("seg_idx", "seg")
    )
    boilerplate = (
        seg.groupBy("seg")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("seg")
    )
    kept = seg.join(F.broadcast(boilerplate), "seg", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = with_chunks.select(id_col, F.col("_n_segments").alias("n_segments"))
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_segments",
            (F.col("n_segments") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def quality_percentile_prune(
    df: DataFrame,
    stratum: str | None = "lang",
    drop_frac: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop the lowest-quality ``drop_frac`` of documents per stratum (the
    percentile-pruning step of corpus curation: "cut the worst 20% of every
    language").

    Semantics: per stratum, the cutoff is the largest (rounded) quality score
    whose cumulative document fraction is ≤ ``drop_frac``; every document
    scoring ≤ cutoff is dropped — score-ties always travel together, so the
    result is deterministic and engine-reproducible (no row_number over
    arbitrary orders).

    Scale shape: deliberately NOT a ``cume_dist`` window over the corpus — a
    per-stratum window puts an entire language in one task. Instead the corpus
    sees one map-side-combined groupBy onto the tiny (stratum × rounded-score)
    histogram; cutoffs come from a window over THAT relation (thousands of
    rows at any corpus size) and broadcast back as a narrow filter.
    """
    from pyspark.sql import Window

    part = [stratum] if stratum else []
    scored = add_text_stats(df).withColumn("q6", F.round("quality_score", 6))
    hist = scored.groupBy(*part, "q6").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(*part).orderBy(F.col("q6").asc())
    cum = hist.withColumn("_cum", F.sum("_c").over(w))
    tot = hist.groupBy(*part).agg(F.sum("_c").alias("_n")) if part else hist.agg(
        F.sum("_c").alias("_n")
    )
    joined = cum.join(F.broadcast(tot), part) if part else cum.crossJoin(F.broadcast(tot))
    cutoff = (
        joined.filter(F.col("_cum") <= F.lit(float(drop_frac)) * F.col("_n"))
        .groupBy(*part)
        .agg(F.max("q6").alias("_cut"))
    )
    if part:
        pruned = scored.join(F.broadcast(cutoff), part, "left")
    else:
        pruned = scored.crossJoin(F.broadcast(cutoff))
    return (
        pruned.filter(F.col("_cut").isNull() | (F.col("q6") > F.col("_cut")))
        .withColumn("quality_score", F.col("q6"))
        .drop("q6", "_cut")
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Tokenizer-fitting primitive: the ``vocab_size`` most frequent tokens with
    deterministic ranking (count desc, token asc). One map-side-combined token
    count (vocabulary-sized output, not corpus-sized), then a driver-light
    TakeOrdered for the top-V. Output: (token, n, rank)."""
    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    # The single-partition rank window runs over the vocabulary relation (tiny
    # by construction), never the corpus.
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= vocab_size)
    )


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a fitted vocab — the
    coverage diagnostic run before committing to a tokenizer. The vocab
    broadcasts (it is vocab-sized); the corpus sees one explode + one groupBy
    on the id (map-side combinable). Output: (id, n_tokens, n_oov, oov_rate)."""
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    flagged = toks.join(
        F.broadcast(vocab.select(F.col("token"), F.lit(1).alias("_in"))),
        "token",
        "left",
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round((F.col("n_oov") / F.col("n_tokens")).cast("double"), 6),
        )
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document novelty: the fraction of its distinct word ``k``-grams
    whose FIRST corpus occurrence (by ascending id — ingestion order) is this
    document. Streaming-ingest curation uses this to score marginal
    contribution: a doc whose every n-gram already appeared earlier adds no
    new content even if no single earlier doc duplicates it (a mosaic dup —
    invisible to pairwise dedup).

    Shape: distinct (doc, gram) explode → min(id) per gram (one shuffle,
    map-side combinable) → join back on the gram (second shuffle) → per-doc
    ratio. Output: (id, n_grams, n_novel, novelty).
    """
    from iceberg_evolve_spark.functions.dedup import word_shingles
    from iceberg_evolve_spark.functions.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    grams = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("gram")
    )
    first_seen = grams.groupBy("gram").agg(F.min(id_col).alias("_first"))
    joined = grams.join(first_seen, "gram")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("_first") == F.col(id_col), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round((F.col("n_novel") / F.col("n_grams")).cast("double"), 6),
        )
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    backoff_bits: int = 3,
) -> DataFrame:
    """Per-document INTEGER bigram surprisal with Stupid-Backoff (Brants et
    al., EMNLP 2007) — the next rung above :func:`unigram_surprisal` on the
    LM-quality-proxy ladder: word PAIRS the corpus has seen are cheap, unseen
    or rare transitions are expensive, and rare bigrams back off to the
    second word's unigram surprisal plus a fixed integer penalty
    (``backoff_bits`` ≈ -log₂ of the backoff factor; 3 bits ≈ the 0.4 of the
    paper, kept integral so every score is exact).

    Per bigram (w1,w2): if corpus count ≥ ``min_count``,
    ``s = bit_length(total_bigrams DIV c2)``; else
    ``s = bit_length(total_words DIV c1(w2)) + backoff_bits``. All pure
    integer ops (the ``length(bin(x))`` primitive), so per-doc sums replay
    bit-for-bit cross-engine; the per-doc MEAN is the single final division.

    Scale shape: bigrams come from ``zip_with`` over the token array (no
    self-join, no posexplode carry of the array), histograms are map-side
    combined to vocabulary size, and the score table attaches back onto the
    bigram stream WITHOUT a forced broadcast: unlike the unigram case, the
    raw bigram-TYPE table grows near-linearly with a growing corpus (every
    new document coins new transitions), so the join strategy is left to the
    optimizer — AQE broadcasts while the vocab sits under the threshold and
    falls back to a shuffle join when it outgrows it (measured: the forced
    broadcast was 13.4x at a 10x scale-up; optimizer-chosen, 10.6x ≈ linear).
    Only the two 1-row totals are explicitly broadcast. Docs with fewer than
    2 tokens have no bigrams and are not emitted.
    Output: (id, n_bigrams, n_backoff, sum_surprisal, mean_surprisal)."""
    tk = tokens(text_col)
    pairs = F.zip_with(
        F.slice(tk, 1, F.greatest(F.size(tk) - 1, F.lit(0))),
        F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = df.select(id_col, F.explode(pairs).alias("p")).select(
        id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    words = df.select(F.explode(tk).alias("w"))
    uh = words.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    ut = uh.agg(F.sum("c1").alias("t1"))
    bh = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    bt = bh.agg(F.sum("c2").alias("t2"))
    scored = (
        bh.join(F.broadcast(bt))
        .join(uh.select(F.col("w").alias("w2"), "c1"), "w2")
        .join(F.broadcast(ut))
        .select(
            "w1",
            "w2",
            F.when(
                F.col("c2") >= min_count,
                F.length(F.bin(F.expr("t2 DIV c2"))),
            )
            .otherwise(
                F.length(F.bin(F.expr("t1 DIV c1"))) + F.lit(backoff_bits)
            )
            .alias("s"),
            (F.col("c2") < min_count).cast("int").alias("backed_off"),
        )
    )
    return (
        big.join(scored, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("backed_off").cast("long").alias("n_backoff"),
            F.sum("s").cast("long").alias("sum_surprisal"),
        )
        .select(
            id_col,
            "n_bigrams",
            "n_backoff",
            "sum_surprisal",
            F.round(
                F.col("sum_surprisal").cast("double")
                / F.col("n_bigrams").cast("double"),
                4,
            ).alias("mean_surprisal"),
        )
    )


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document INTEGER surprisal score — the exactness-friendly unigram
    perplexity proxy used for quality filtering (CCNet filters on LM
    perplexity; without an LM runtime, corpus-fit unigram surprisal ranks
    documents the same way for the head of the distribution).

    Per word w: ``surprisal(w) = bit_length(total_words // freq(w))``,
    i.e. ``⌊log₂(total/freq)⌋ + 1`` (bit_length(x) = floor(log2(x)) + 1 —
    one more than ⌊log₂(1/p)⌋, a rank-preserving offset), computed with
    pure integer ops (``length(bin(x))``,
    the same primitive the HLL sketch uses), so every per-doc sum is an
    exact integer the oracle replays bit-for-bit; the per-doc MEAN is the
    single final division. High mean ⇒ the doc is full of corpus-rare
    words (gibberish, boilerplate IDs); low mean ⇒ stopword soup. Output:
    (id, n_words, sum_surprisal, mean_surprisal ROUND 4).

    Scale shape: one word explode → map-side-combined histogram (vocab-
    sized), surprisal attached by ONE broadcast join back onto the word
    stream (a vocabulary is KB–MB at any corpus size — the same
    amortization as the BPE encoder), one per-doc aggregation. No corpus
    self-join, no window."""
    words = df.select(id_col, F.explode(tokens(text_col)).alias("w"))
    hist = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = hist.agg(F.sum("c").alias("t"))
    # t DIV c: true integer division (Spark `div`, DuckDB `//`) — float
    # division + floor can misround near integer boundaries at large t.
    surp = hist.join(F.broadcast(total)).select(
        "w",
        F.length(F.bin(F.expr("t DIV c"))).alias("s"),
    )
    return (
        words.join(F.broadcast(surp), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("s").cast("long").alias("sum_surprisal"),
        )
        .select(
            id_col,
            "n_words",
            "sum_surprisal",
            F.round(
                F.col("sum_surprisal").cast("double")
                / F.col("n_words").cast("double"),
                4,
            ).alias("mean_surprisal"),
        )
    )

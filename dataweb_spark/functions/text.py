"""Text-analysis operators for LLM data pipelines (beyond-reference).

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd) — no Python UDFs. Each operator has an exact ANSI-SQL
equivalent so the DuckDB oracle can verify it (see ``__spark_entry__``).

Scale notes: every function here is a narrow per-row projection — no shuffle,
no state — so it scales linearly with input splits and stays inside
WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword language
# heuristic. Deliberately small + deterministic (the point is the *operator*,
# not linguistic accuracy).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by",
]

_PUNCT_CLASS = r"[.,!?;:]"


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokenization of trimmed text; empty text → empty array."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"\s+"))


def token_count(col: str | Column = "text") -> Column:
    """Whitespace token count (bigint to match SQL ``len(...)`` oracles)."""
    return F.size(tokens(col)).cast("bigint")


def bpe_ish_token_count(col: str | Column = "text") -> Column:
    """A BPE-ish token estimate: split on word/number/punct boundaries.

    Splits into word runs, digit runs and single punctuation marks — the
    regex analog of a byte-pair pre-tokenizer's word-split stage.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(
        c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")).cast("bigint")


def char_count(col: str | Column = "text") -> Column:
    return F.length(F.col(col) if isinstance(col, str) else col).cast("bigint")


def punct_ratio(col: str | Column = "text") -> Column:
    """Fraction of characters that are sentence punctuation [.,!?;:]."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    n_punct = n - F.length(F.regexp_replace(c, _PUNCT_CLASS, ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(n_punct / n)


def stopword_ratio(col: str | Column = "text",
                   stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English) stopwords."""
    sw = stopwords or STOPWORDS_EN
    toks = tokens(col)
    n = F.size(toks)
    sw_arr = F.array(*[F.lit(s) for s in sw])
    n_sw = F.size(F.filter(toks, lambda x: F.array_contains(sw_arr, F.lower(x))))
    return F.when(n == 0, F.lit(0.0)).otherwise(n_sw.cast("double") / n)


def mean_word_length(col: str | Column = "text") -> Column:
    toks = tokens(col)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0).cast("bigint"),
                        lambda acc, x: acc + F.length(x))
    return F.when(n == 0, F.lit(0.0)).otherwise(total.cast("double") / n)


# Encoding-damage regexes (Java∩RE2 so SQL oracles replay them exactly):
# C0/C1-range control characters minus \t\n\r; the classic UTF-8-read-
# as-Latin-1 mojibake digraphs (Ã+continuation for 2-byte sequences like
# é→Ã©, â€x for the 3-byte punctuation family ’ “ ” – —, and Â before
# NBSP-class bytes); printable-ASCII-or-whitespace for the ascii ratio.
_CTRL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]"
_MOJIBAKE_RE = r"(Ã[\x80-\xbf]|â€.|Â[\xa0 ])"
_ASCII_CLASS = r"[\x20-\x7e\t\n\r]"


def encoding_quality(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document encoding-damage signals — the cheap byte-hygiene
    gate a web pipeline runs before any tokenizer sees the text:

    * ``n_replacement`` — U+FFFD count: a decoder already met invalid
      bytes upstream and papered over them;
    * ``n_control``     — C0/C1-range control characters (minus
      ``\\t\\n\\r``): binary junk or charset confusion;
    * ``n_mojibake``    — classic UTF-8-decoded-as-Latin-1 digraphs
      (``Ã©``-class 2-byte, ``â€™``-class 3-byte punctuation, ``Â`` +
      NBSP): the text survived a wrong round-trip and needs re-decode,
      not filtering;
    * ``ascii_ratio_e6`` — printable-ASCII+whitespace chars per million
      (INTEGER fixed point: ``(n_ascii·10^6) div n_chars`` — exact, not
      a rounded float), a cheap proxy for "script matches the declared
      language" when combined with lang metadata;
    * ``enc_suspect``   — any damage counter nonzero.

    One codegen projection (four ``regexp_count``/length expressions),
    zero shuffles, zero Python — linear at 100 TB like the rest of the
    quality layer. Empty docs report zero counters and ratio 10^6."""
    c = F.col(text_col)
    base = df.select(
        F.col(id_col),
        F.length(c).cast("bigint").alias("n_chars"),
        F.regexp_count(c, F.lit("�")).cast("bigint")
         .alias("n_replacement"),
        F.regexp_count(c, F.lit(_CTRL_CLASS)).cast("bigint")
         .alias("n_control"),
        F.regexp_count(c, F.lit(_MOJIBAKE_RE)).cast("bigint")
         .alias("n_mojibake"),
        F.regexp_count(c, F.lit(_ASCII_CLASS)).cast("bigint")
         .alias("_n_ascii"))
    return base.select(
        id_col, "n_chars", "n_replacement", "n_control", "n_mojibake",
        F.expr("case when n_chars = 0 then 1000000"
               " else (_n_ascii * 1000000) div n_chars end")
         .cast("bigint").alias("ascii_ratio_e6"),
        ((F.col("n_replacement") > 0) | (F.col("n_control") > 0)
         | (F.col("n_mojibake") > 0)).alias("enc_suspect"))


def quality_score(col: str | Column = "text") -> Column:
    """Composite heuristic quality score in [0, 1].

    Blend of length band, punctuation sanity and stopword presence —
    the standard cheap pre-filter in web-scale text pipelines.
    """
    n = char_count(col)
    length_ok = F.when((n >= 50) & (n <= 10000), F.lit(1.0)) \
                 .when(n < 50, n.cast("double") / 50.0) \
                 .otherwise(F.lit(0.5))
    punct_ok = F.when(punct_ratio(col) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.5))
    sw = stopword_ratio(col)
    sw_ok = F.when((sw >= 0.05) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.6))
    return F.round(0.5 * length_ok + 0.2 * punct_ok + 0.3 * sw_ok, 6)


def lang_id(col: str | Column = "text") -> Column:
    """Language-ID heuristic: most marker-word hits wins; ties and zero
    hits → 'und'. Deterministic (markers checked in fixed order)."""
    toks = F.transform(tokens(col), lambda x: F.lower(x))
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # reversed so earlier languages win ties (when() chains short-circuit)
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)) \
                .otherwise(expr)
    return expr


def fingerprint(col: str | Column = "text") -> Column:
    """128-bit content fingerprint (md5 hex) — exact-dup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def rolling_fingerprint(col: str | Column = "text", window: int = 8) -> Column:
    """Order-insensitive rolling document fingerprint: xxhash64 of each
    ``window``-gram of tokens, xor-folded. Robust to local edits outside
    the changed window; cheap enough for 100 TB (pure codegen exprs).

    The window-grams are built by zipping ``window`` shifted slices of the
    token array (split evaluated O(window) times per row) rather than
    slicing inside a ``transform`` lambda, which would re-tokenize per
    gram — O(n·window) splits per document. ``arrays_zip`` pads the tail
    with NULLs and ``concat_ws`` skips them, which reproduces the short
    final window of the slice formulation."""
    toks = tokens(col)
    n = F.size(toks)
    n_windows = F.greatest(n - window, F.lit(0)) + 1
    shifted = [F.slice(toks, k + 1, F.greatest(n - k, F.lit(0)))
               for k in range(window)]
    zipped = F.slice(F.arrays_zip(*shifted), F.lit(1), n_windows)
    grams = F.transform(
        zipped,
        lambda s: F.xxhash64(
            F.concat_ws(" ", *[s[str(k)] for k in range(window)])))
    folded = F.aggregate(grams, F.lit(0).cast("bigint"),
                         lambda acc, x: acc.bitwiseXOR(x))
    # empty text: the slice formulation hashed one empty string, not zero
    return F.when(n == 0, F.xxhash64(F.lit(""))).otherwise(folded)


def letter_freq_embedding(col: str | Column = "text") -> Column:
    """26-dim letter-frequency embedding (counts of a..z over the
    lowercased text) as ``array<double>`` — a fully deterministic,
    oracle-exact stand-in for a learned text encoder, used to test
    retrieval plumbing end-to-end. Counts are integers, so dot products
    and squared norms are exact in ANY summation order: cross-engine
    cosine scores match to the last bit. Pure codegen (26
    length/replace terms), map-only — no Python in the hot path."""
    t = F.lower(col if isinstance(col, Column) else F.col(col))
    counts = [
        (F.length(t) - F.length(F.regexp_replace(t, ch, ""))).cast("double")
        for ch in "abcdefghijklmnopqrstuvwxyz"
    ]
    return F.array(*counts)


def letter_freq_embedding_pd(col: str | Column = "text") -> Column:
    """Arrow-batched form of :func:`letter_freq_embedding` — the SAME
    integers, computed in ONE numpy bincount pass per batch instead of 52
    inlined string expressions (the bulk-kernel policy, SCALE.md §4: a
    Catalyst-inlined expression tree gets re-evaluated per downstream
    reference, while a Python-UDF output column is materialized once).
    a–z never collide with UTF-8 continuation/lead bytes, so byte-level
    counting over the utf-8 encoding equals per-character counting."""
    from pyspark.sql.functions import pandas_udf
    import numpy as np
    import pandas as pd

    # (no signature annotations: this module uses PEP-563 postponed
    # annotations, which pandas_udf can't resolve against local names —
    # the decorator's returnType carries the schema instead)
    @pandas_udf("array<double>")
    def f(s):
        out = []
        for t in s:
            b = np.frombuffer((t or "").lower().encode("utf-8", "ignore"),
                              dtype=np.uint8)
            out.append(np.bincount(b, minlength=256)[97:123]
                       .astype(np.float64))
        return pd.Series(out)

    return f(col if isinstance(col, Column) else F.col(col))


def chunk_documents(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", chunk_tokens: int = 64,
                    overlap: int = 16) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    pre-training/RAG chunker. Pure codegen (sequence → transform → explode),
    map-only; output rows ≈ n_tokens/stride per doc.

    Chunks start every ``chunk_tokens - overlap`` tokens; the final partial
    window is kept iff it starts before the text ends. Empty/whitespace
    docs produce no rows.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    # Explode the start offsets FIRST, carrying the tokenized array through
    # the Generate, then slice the materialized array once per chunk.
    # Slicing inside a transform lambda instead would re-tokenize the text
    # for every chunk (O(chunks × tokens) per document).
    base = (df.select(F.col(id_col), tokens(text_col).alias("_toks"))
              .withColumn("_n", F.size("_toks"))
              .where(F.col("_n") > 0))
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
    return (base
            .select(id_col, "_toks", "_n", F.explode(starts).alias("_s"))
            .select(F.col(id_col),
                    (F.col("_s") / stride).cast("int").alias("chunk_idx"),
                    F.concat_ws(" ", F.slice("_toks", F.col("_s") + 1,
                                             chunk_tokens))
                     .alias("chunk_text"),
                    F.least(F.col("_n") - F.col("_s"), F.lit(chunk_tokens))
                     .cast("bigint").alias("chunk_tokens")))


def bigrams(col: str | Column = "text") -> Column:
    """Adjacent token 2-grams (space-joined); <2 tokens → empty array.

    Built with ``zip_with`` over two shifted slices so the tokenization is
    evaluated once per row. (Indexing the token array with ``element_at``
    inside a ``transform`` lambda re-evaluates the split per element —
    O(n²) per document; measured 5× slower on the documents table.)"""
    toks = tokens(col)
    n = F.size(toks)
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
                   lambda a, b: F.concat_ws(" ", a, b)))


def repetition_metrics(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals, per document:

    * ``distinct_token_ratio`` — type/token ratio (map-only, codegen).
    * ``top_bigram_frac`` — share of bigram occurrences taken by the most
      frequent bigram (high → boilerplate/templated text).
    * ``dup_bigram_frac`` — share of bigram occurrences whose bigram appears
      more than once.

    Distributed shape: explode bigrams → two-level groupBy. Both aggregations
    are map-side-combinable and partition by ``id_col``, so at 100 TB this is
    one shuffle keyed on (doc, bigram) + one reusing the doc keying; no
    per-doc data ever concentrates on the driver. Docs with <2 tokens get
    zero fractions (no bigrams).
    """
    base = df.select(
        F.col(id_col),
        F.round(
            F.when(token_count(text_col) == 0, F.lit(0.0)).otherwise(
                F.size(F.array_distinct(tokens(text_col))).cast("double")
                / F.size(tokens(text_col))), 6).alias("distinct_token_ratio"),
        bigrams(text_col).alias("_bigrams"))
    per_bigram = (base
                  .select(id_col, "distinct_token_ratio",
                          F.explode_outer("_bigrams").alias("bigram"))
                  .groupBy(id_col, "distinct_token_ratio", "bigram")
                  .agg(F.count("bigram").alias("cnt")))
    return (per_bigram
            .groupBy(id_col, "distinct_token_ratio")
            .agg(
                F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_bigrams"),
                F.round(F.coalesce(
                    F.try_divide(F.max("cnt"), F.sum("cnt")), F.lit(0.0)), 6)
                 .alias("top_bigram_frac"),
                F.round(F.coalesce(
                    F.try_divide(
                        F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))),
                        F.sum("cnt")), F.lit(0.0)), 6)
                 .alias("dup_bigram_frac")))


# PII scrub patterns, applied in order (IP before phone so dotted quads are
# not half-eaten by the phone pattern). Regex syntax restricted to the
# Java-regex ∩ RE2 common subset so the DuckDB oracle runs the same patterns.
PII_PATTERNS: list[tuple[str, str]] = [
    ("<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("<IP>", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("<PHONE>", r"\+?\d{3}[-.]\d{3,4}[-.]\d{4}\b"),
]


def compression_ratio(col: str | Column = "text") -> Column:
    """zlib-compressed size / raw utf-8 size — the classic redundancy
    quality signal (low ratio ⇒ highly repetitive/boilerplate text;
    near-1 ⇒ high-entropy or very short text). Empty text → 1.0.

    Arrow-batched Pandas UDF (zlib has no Catalyst analog); one
    compress per document, embarrassingly parallel, no shuffle. zlib
    level 6 output is fully deterministic for a given input, so the
    column is stable across runs/partitionings — but NOT reproducible in
    SQL engines, so driver oracles check planted-ordering invariants
    rather than raw values."""
    from pyspark.sql.functions import pandas_udf
    import pandas as pd
    import zlib

    @pandas_udf("double")
    def f(s):
        out = []
        for t in s:
            b = (t or "").encode("utf-8", "ignore")
            out.append(len(zlib.compress(b, 6)) / len(b) if b else 1.0)
        return pd.Series(out)

    return f(col if isinstance(col, Column) else F.col(col))


def scrub_pii(col: str | Column = "text") -> Column:
    """Redact emails / IPv4s / phone numbers with typed placeholder tokens —
    the standard pre-training privacy scrub. Pure ``regexp_replace`` chain:
    map-only, whole-stage-codegen, no shuffle (scales linearly at 100 TB)."""
    c = F.col(col) if isinstance(col, str) else col
    for token, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


_HEX = "0123456789abcdef"


def hash_bucket(col: str | Column, buckets: int = 256) -> Column:
    """Deterministic 0..buckets-1 bucket from md5 of the key.

    Built from the first two md5 hex chars via ``array_position`` (present in
    both Spark and DuckDB, so sampling decisions are oracle-reproducible —
    unlike ``rand()`` or ``TABLESAMPLE``). 256 sub-buckets are folded into
    ``buckets`` with a modulus; keys route identically on every engine and
    every run, which is what makes train/eval splits stable across reruns of
    a 100 TB pipeline."""
    if not 1 <= buckets <= 256:
        raise ValueError("buckets must be in 1..256")
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(c.cast("string"))
    hex_arr = F.array(*[F.lit(ch) for ch in _HEX])
    b = ((F.array_position(hex_arr, F.substring(h, 1, 1)) - 1) * 16
         + (F.array_position(hex_arr, F.substring(h, 2, 1)) - 1))
    return F.pmod(b, F.lit(buckets)).cast("int")


def deterministic_sample(df: DataFrame, key_col: str,
                         fraction: float | None = None,
                         stratify_col: str | None = None,
                         fractions: dict[str, float] | None = None,
                         default_fraction: float = 0.0) -> DataFrame:
    """Deterministic (hash-mod) sampling, optionally stratified.

    ``fraction`` is quantized to /256 granularity. With ``stratify_col`` +
    ``fractions`` each stratum gets its own rate (quality-weighted corpus
    mixing). Map-only filter — no shuffle, reproducible across runs/engines.
    """
    bucket = hash_bucket(key_col, 256)
    if stratify_col is None:
        if fraction is None:
            raise ValueError("fraction required without stratify_col")
        return df.where(bucket < int(round(fraction * 256)))
    thresh: Column = F.lit(int(round(default_fraction * 256)))
    for value, frac in sorted((fractions or {}).items()):
        thresh = F.when(F.col(stratify_col) == value,
                        F.lit(int(round(frac * 256)))).otherwise(thresh)
    return df.where(bucket < thresh)


def corpus_mix(df: DataFrame, key_col: str, stratify_col: str,
               targets: dict[str, float],
               out_fraction: float = 1.0) -> DataFrame:
    """Rebalance a corpus toward target stratum proportions by deterministic
    down-sampling — the "data mixing" stage of a pre-training pipeline.

    For stratum s with n_s rows out of N total, the kept rate is
    ``min(1, out_fraction · target_s · N / n_s)`` (strata not in ``targets``
    drop to 0), quantized to /256 hash buckets so the decision is
    reproducible across engines and runs. Stratum counts come from one
    map-side-combined groupBy broadcast back onto the filter — no second
    pass over the data, no driver-side loop over rows.
    """
    n_total = F.broadcast(df.groupBy().agg(F.count("*").alias("_ntot")))
    per_stratum = F.broadcast(
        df.groupBy(stratify_col).agg(F.count("*").alias("_ns")))
    share: Column = F.lit(0.0)
    for value, frac in sorted(targets.items()):
        share = F.when(F.col(stratify_col) == value,
                       F.lit(frac)).otherwise(share)
    rate = F.least(F.lit(1.0),
                   out_fraction * share * F.col("_ntot") / F.col("_ns"))
    # floor(x+0.5): identical half-rounding in Spark and DuckDB oracles
    thresh = F.floor(rate * 256 + F.lit(0.5)).cast("int")
    return (df.join(per_stratum, stratify_col).crossJoin(n_total)
              .where(hash_bucket(key_col, 256) < thresh)
              .drop("_ns", "_ntot"))


def tfidf_top_terms(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document.

    Distributed shape: explode tokens → map-side-combined count per
    (doc, term) → term doc-frequency from that same aggregate (one extra
    shuffle keyed on term) → broadcast the global doc count (1-row agg,
    never collected to the driver loop) → windowed top-k per doc. At 100 TB
    both groupBys partial-aggregate before their shuffle and the only
    row-explosion is the token explode, which pipelines into the first
    partial aggregate without materializing.

    idf = ln((N+1)/(df+1)) + 1 (smoothed); ties broken by term asc so the
    result is deterministic.
    """
    from pyspark.sql import Window
    base = (df.select(F.col(id_col), tokens(text_col).alias("_toks"))
              .where(F.size("_toks") > 0))
    tf = (base.select(id_col, F.explode("_toks").alias("term"))
              .groupBy(id_col, "term").agg(F.count("*").alias("tf")))
    docfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # n_docs counts the docs that survive the non-empty filter. Spark
    # does not share the `base` subtree between the tf arm and this
    # 1-row count, so expressing the count over `base` re-tokenized the
    # whole corpus a second time (split + size per doc) just to count
    # rows. `size(split(trim(t))) > 0  ⟺  length(trim(t)) > 0` (a
    # non-empty trimmed string always yields ≥1 token), so count on the
    # cheap length predicate instead — same rows, no second tokenize
    # pass (guide §1.2: don't compute things you throw away).
    n_docs = (df.where(F.length(F.trim(F.col(text_col))) > 0)
                .select(F.count("*").alias("n_docs")))  # 1-row agg
    scored = (tf.join(docfreq, "term")
                .crossJoin(F.broadcast(n_docs))
                .withColumn(
                    "tfidf",
                    F.round(F.col("tf") * (F.log((F.col("n_docs") + 1)
                                                 / (F.col("df") + 1)) + 1), 6)))
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rk", F.row_number().over(w))
                  .where(F.col("rk") <= k)
                  .select(id_col, "term", "tf", "df",
                          F.col("rk").cast("int").alias("rk"), "tfidf"))


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              query_id_col: str = "query_id",
              query_text_col: str = "query_text") -> DataFrame:
    """Top-k documents per query under Okapi BM25 — the lexical arm of
    a RAG retrieval stack (the standard partner to the embedding-cosine
    dense arm; fuse with :func:`similarity.rrf_fuse`).

    INTEGER-EXACT (the lp_e12/lw_e12 pattern): with the standard
    parameters as exact rationals — k1 = 6/5, b = 3/4 — the tf
    saturation term is a ratio of bigints,

        tf_comp = 44·tf·T / (20·tf·T + 6·T + 18·dl·N)

    (T = total corpus tokens, N = doc count, dl = doc length), and the
    Robertson idf ``ln((N+1)/(df+0.5)) = ln((2N+2)/(2df+1))`` is rounded
    ONCE per term to ``idf_e12`` bigint in the bounded model table. The
    per-term score ``(idf_e12·44·tf·T) div (den·10^6)`` and its per-doc
    sum are pure integer arithmetic — bit-identical across engines,
    reruns and partitionings GIVEN the rounded ``idf_e12`` model table
    (the one float ``ln`` feeding it can differ in its last bit between
    libm builds, which is why ``score_e6`` sits in the checker's ±1
    round-derived allowlist). Products run ~1e28 at 100 TB-scale T, so
    they accumulate as decimal(38,0) (DuckDB: hugeint), the PageRank/
    CCNet overflow discipline.

    Distributed shape: explode → map-side-combined (doc, term) tf —
    the postings table, from which EVERYTHING else derives (doc length
    = Σ tf per doc, docfreq = row count per term, corpus stats = 1-row
    aggregate), so no second tokenization pass exists in the lineage →
    the QUERY term table (small by construction) broadcasts into tf, so
    only postings of query terms survive → doc-length join → per-(query,
    doc) re-agg → windowed top-k per query. No all-pairs anything.
    Catalyst may still recompute the tf subtree per consumer (column
    pruning specializes the exchanges); a deployment serving many query
    batches should persist the postings table once — it IS the inverted
    index."""
    from pyspark.sql import Window
    base = (docs.select(F.col(id_col), tokens(text_col).alias("_toks"))
                .where(F.size("_toks") > 0))
    tf = (base.select(id_col, F.explode("_toks").alias("term"))
              .groupBy(id_col, "term")
              .agg(F.count("*").cast("bigint").alias("tf")))
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("bigint").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    # corpus stats (N docs, T tokens): the same values as aggregating
    # the dl table, but computed from a direct shuffle-free scan —
    # count + sum(size(tokens)) partial-aggregate per input split with
    # no explode and no exchange. Expressed over `dl` this 1-row agg
    # re-ran the whole explode → (doc, term) → (doc) shuffle chain per
    # occurrence, and it is crossJoined TWICE below (qidf + scored), so
    # the corpus paid two extra tokenize+2-shuffle passes (Spark does
    # not share subtrees). r15, guide §1.2/§2.3.
    stats = (docs.select(F.size(tokens(text_col)).alias("_dw_sz"))
             .where(F.col("_dw_sz") > 0)
             .agg(F.count("*").cast("bigint").alias("n_docs"),
                  F.sum("_dw_sz").cast("bigint").alias("t_tokens")))
    qterms = (queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(tokens(query_text_col))).alias("term")))
    # idf only for the query's terms — a tiny broadcast, never the vocab
    qidf = (dfreq.join(F.broadcast(qterms.select("term").distinct()),
                       "term")
            .crossJoin(F.broadcast(stats))
            .select("term",
                    F.round(F.log((2.0 * F.col("n_docs") + 2.0)
                                  / (2.0 * F.col("df") + 1.0))
                            * F.lit(1e12)).cast("bigint").alias("idf_e12")))
    scored = (tf.join(F.broadcast(qterms), "term")
                .join(F.broadcast(qidf), "term")
                .join(dl, id_col)
                .crossJoin(F.broadcast(stats))
                .withColumn("score_e6_term", F.expr(
                    # EVERY product is decimal-promoted before it can
                    # exceed int64 — 18·dl·n_docs alone wraps bigint at
                    # n_docs ~1e11 × a 5e6-token junk doc
                    "(cast(idf_e12 as decimal(38,0)) * (44 * tf)"
                    " * t_tokens) div"
                    " ((20 * tf * cast(t_tokens as decimal(38,0))"
                    "   + 6 * t_tokens"
                    "   + 18 * dl * cast(n_docs as decimal(38,0)))"
                    "  * 1000000)")
                    .cast("bigint")))
    per_doc = (scored.groupBy("query_id", id_col)
               .agg(F.sum("score_e6_term").cast("bigint")
                    .alias("score_e6")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score_e6"), id_col)
    return (per_doc.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("int").alias("rank"),
                    id_col, "score_e6"))


def unigram_lm_scores(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      alpha: float = 1.0) -> DataFrame:
    """Per-document log-likelihood under a corpus-trained unigram language
    model — the CCNet/Gopher-style "perplexity filter" shape, self-trained
    so it needs no external model file. Add-``alpha`` smoothing:

        logp(tok) = ln((count(tok) + alpha) / (T + alpha·V))

    with T = total corpus tokens, V = vocabulary size. Returns one row per
    non-empty document: token count, average token log-prob, perplexity
    (exp(-avg)). Low avg_logp ⇒ unusual token mix ⇒ quality outlier.

    Distributed shape: one explode → map-side-combined token-count groupBy
    (the trained model, vocabulary-sized) → the totals come from a 1-row
    aggregate broadcast as a crossJoin, never collected → score-side join
    keyed on token, then a per-doc re-aggregate. At 100 TB the model table
    is Zipf-bounded (vocab ≪ corpus) so the score join broadcasts when it
    fits and AQE handles the 'the'/'and' hot keys otherwise; no driver
    materialization anywhere."""
    base = (df.select(F.col(id_col), tokens(text_col).alias("_toks"))
              .where(F.size("_toks") > 0))
    toks = base.select(id_col, F.explode("_toks").alias("tok"))
    # model totals: every corpus token lands in exactly one vocab row,
    # so T and V are plain sums OVER the Zipf-bounded model table — a
    # separate `.agg()` over the lazy model would RE-TOKENIZE the whole
    # corpus a third time (Spark does not share subtrees; r15, guide
    # §1.2: corpus tokenize passes 3 → 2). r16 (advisor): the model is
    # materialized ONCE (localCheckpoint — bounded, vocab-sized) and the
    # totals come from a scalable partial aggregate over the checkpoint,
    # broadcast back as a 1-row crossJoin — the r15 whole-table window
    # funneled the entire (corpus-dependent) vocabulary through ONE
    # task, a bottleneck/OOM risk at cluster scale that the agg form
    # does not have. Upstream pass count is unchanged (model + scoring).
    model = (toks.groupBy("tok").agg(F.count("*").alias("cnt"))
             .localCheckpoint(eager=True))
    totals = model.agg(F.sum("cnt").alias("t_tokens"),
                       F.count("*").alias("v_size"))
    modelfx = model.crossJoin(F.broadcast(totals))
    scored = (toks.join(modelfx, "tok")
                  .withColumn("logp", F.log((F.col("cnt") + F.lit(alpha))
                                            / (F.col("t_tokens")
                                               + F.lit(alpha)
                                               * F.col("v_size")))))
    return (scored.groupBy(id_col)
                  .agg(F.count("*").cast("bigint").alias("n_tokens"),
                       F.round(F.sum("logp") / F.count("*"), 6)
                        .alias("avg_logp"),
                       F.round(F.exp(-F.sum("logp") / F.count("*")), 6)
                        .alias("perplexity")))


def bigram_lm_scores(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     alpha: float = 1.0) -> DataFrame:
    """Per-document log-likelihood under a corpus-trained BIGRAM language
    model — the conditional-probability upgrade of
    :func:`unigram_lm_scores` (repetitive/boilerplate text scores high,
    shuffled-word salads score low even when their unigrams are common).
    Add-``alpha`` smoothing over the bigram-prefix contexts:

        logp(w2 | w1) = ln((count(w1 w2) + alpha) / (count(w1 ·) + alpha·V))

    with V = vocabulary size. One row per document with ≥ 2 tokens:
    bigram count, average conditional log-prob, perplexity.

    Distributed shape: bigrams come from ``zip_with`` over shifted array
    slices (no position self-join), then two map-side-combined groupBys
    train the pair/context tables; V rides a broadcast 1-row aggregate and
    the score join keys on (w1, w2) — Zipf-bounded like the unigram model,
    AQE splits the hot function-word contexts."""
    base = (df.select(F.col(id_col), tokens(text_col).alias("_toks"))
              .withColumn("_n", F.size("_toks"))
              .where(F.col("_n") >= 2))
    pair = F.zip_with(
        F.slice(F.col("_toks"), 1, F.col("_n") - 1),
        F.slice(F.col("_toks"), 2, F.col("_n") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    bigrams = (base.select(id_col, F.explode(pair).alias("_bg"))
                   .select(id_col, F.col("_bg.w1").alias("w1"),
                           F.col("_bg.w2").alias("w2")))
    model2 = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    model1 = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (base.select(F.explode("_toks").alias("_t"))
                 .agg(F.countDistinct("_t").alias("v_size")))
    scored = (bigrams.join(model2, ["w1", "w2"]).join(model1, "w1")
                     .crossJoin(F.broadcast(vocab))
                     .withColumn("logp",
                                 F.log((F.col("c12") + F.lit(alpha))
                                       / (F.col("c1") + F.lit(alpha)
                                          * F.col("v_size")))))
    return (scored.groupBy(id_col)
                  .agg(F.count("*").cast("bigint").alias("n_bigrams"),
                       F.round(F.sum("logp") / F.count("*"), 6)
                        .alias("avg_logp"),
                       F.round(F.exp(-F.sum("logp") / F.count("*")), 6)
                        .alias("perplexity")))


# ===========================================================================
# HTML → text extraction (the C4/RefinedWeb ingestion front door)
# ===========================================================================

# Strip steps applied in order. Regex syntax restricted to the
# Java-regex ∩ RE2 common subset (inline (?is) flags, lazy quantifiers,
# no lookaround/backrefs) so the DuckDB oracle runs the same patterns.
# Replacement is ' ' (inline-safe) or '\n' (block boundary).
HTML_STRIP_STEPS: list[tuple[str, str]] = [
    # script/style payloads are code, never content — drop whole elements
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    # block-level boundaries become newlines so line-level filters
    # (c4_line_filter) see the document's visual line structure
    (r"(?i)</?(p|div|br|hr|h[1-6]|li|ul|ol|tr|td|th|table|section|article"
     r"|header|footer|nav|blockquote|title|pre)\b[^>]*>", "\n"),
    # every remaining tag is inline markup — drop the tag, keep the text
    (r"<[^>]+>", " "),
]

# Minimal entity decode (the ones boilerplate HTML actually emits), applied
# AFTER tag stripping. Literal replaces — identical on every engine.
# '&amp;' is decoded last so '&amp;lt;' yields '&lt;', not '<'.
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]

# Whitespace normalization after stripping: collapse runs of spaces/tabs,
# then collapse whitespace runs containing a newline to ONE newline.
HTML_WS_STEPS: list[tuple[str, str]] = [
    (r"[ \t]+", " "),
    (r"\s*\n\s*", "\n"),
    (r"^\n+|\n+$", ""),
]


def html_to_text(col: str | Column = "text") -> Column:
    """Boilerplate-stripping HTML → text extraction.

    The C4/RefinedWeb ingestion step re-expressed as a pure
    ``regexp_replace``/``replace`` chain: drop script/style/comments,
    turn block-tag boundaries into newlines (so downstream line filters
    see visual lines), strip remaining tags, decode common entities,
    normalize whitespace. Map-only, whole-stage-codegen, no shuffle —
    scales linearly over a 100-TB crawl. Every pattern lives in the
    Java∩RE2 subset so a SQL oracle replays the chain verbatim.
    """
    c = F.col(col) if isinstance(col, str) else col
    for pat, rep in HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pat, rep)
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    for pat, rep in HTML_WS_STEPS:
        c = F.regexp_replace(c, pat, rep)
    return F.trim(c)


def html_extract_tables(df: DataFrame, id_col: str = "doc_id",
                        html_col: str = "html") -> DataFrame:
    """Extract HTML ``<table>`` contents into relational cell rows —
    the structured-data sibling of :func:`html_to_text`: crawl-scale
    pipelines mine tables for facts/QA pairs, and a table flattened to
    prose by the text extractor is lost for that purpose.

    One row per cell: ``(id, table_idx, row_idx, col_idx, is_header,
    cell_text)`` — indices positional within document/table/row,
    ``is_header`` true for ``<th>`` cells, ``cell_text`` tag-stripped,
    entity-decoded and whitespace-collapsed.

    Three nested ``regexp_extract_all`` + ``posexplode`` stages
    (table → tr → td/th), every pattern in the Java∩RE2 subset
    (``(?is)`` inline flags, non-greedy spans) so a SQL oracle replays
    the extraction verbatim. Map-only: the explodes pipeline inside one
    stage, pages never shuffle. Documented limits (the regex tier of a
    real pipeline): nested tables stop at the first ``</table>``;
    colspan/rowspan are not expanded (indices stay positional)."""
    tbl = F.regexp_extract_all(
        F.col(html_col), F.lit(r"(?is)<table[^>]*>(.*?)</table>"), 1)
    d1 = df.select(F.col(id_col),
                   F.posexplode(tbl).alias("table_idx", "_tbl"))
    rows = F.regexp_extract_all(
        F.col("_tbl"), F.lit(r"(?is)<tr[^>]*>(.*?)</tr>"), 1)
    d2 = d1.select(id_col, "table_idx",
                   F.posexplode(rows).alias("row_idx", "_row"))
    # group 0 (full match) keeps the opening tag so <th> is detectable
    cells = F.regexp_extract_all(
        F.col("_row"), F.lit(r"(?is)<t[dh][^>]*>.*?</t[dh]>"), 0)
    d3 = d2.select(id_col, "table_idx", "row_idx",
                   F.posexplode(cells).alias("col_idx", "_cell"))
    text = F.regexp_replace(F.col("_cell"), r"(?is)<[^>]*>", " ")
    for ent, ch in HTML_ENTITIES:
        text = F.replace(text, F.lit(ent), F.lit(ch))
    text = F.trim(F.regexp_replace(text, r"\s+", " "))
    return d3.select(
        id_col,
        F.col("table_idx").cast("int"), F.col("row_idx").cast("int"),
        F.col("col_idx").cast("int"),
        (F.lower(F.substring("_cell", 1, 3)) == "<th").alias("is_header"),
        text.alias("cell_text"))


# ===========================================================================
# C4-style line-level cleaning
# ===========================================================================

# The C4 heuristics (Raffel et al. 2020, §2.2), one CASE per line:
# keep a line iff it ends in terminal punctuation, has >= min_words words,
# and contains none of the blocklist markers; keep the page iff enough
# lines survive.
C4_TERMINAL_PUNCT = "[.!?\"']$"
C4_BLOCKLIST_LOWER = ["lorem ipsum", "javascript"]
C4_BRACE = "{"


def c4_line_keep(line: Column, min_words: int = 5) -> Column:
    """Boolean: does one line survive the C4 line filters?"""
    t = F.trim(line)
    keep = t.rlike(C4_TERMINAL_PUNCT)
    keep = keep & (F.size(F.split(t, r"\s+")) >= min_words)
    for marker in C4_BLOCKLIST_LOWER:
        keep = keep & ~F.lower(t).contains(marker)
    return keep & ~t.contains(C4_BRACE)


def c4_line_filter(df: DataFrame, text_col: str = "text",
                   min_words: int = 5, min_lines: int = 3,
                   out_col: str = "clean_text") -> DataFrame:
    """C4-style line-level document cleaning.

    Splits each document into lines, keeps only lines passing
    ``c4_line_keep``, reassembles the survivors, and attaches
    ``n_lines`` / ``n_kept`` / ``doc_pass`` (enough lines survived).
    The whole operator is one codegen'd projection — ``split`` →
    ``filter`` (array lambda) → ``array_join`` — no explode, no
    shuffle, no Python. Compose after :func:`html_to_text` for the
    crawl→corpus front half of a C4 pipeline.
    """
    lines = F.split(F.col(text_col), r"\n")
    kept = F.filter(lines, lambda l: c4_line_keep(l, min_words))
    return (df
            .withColumn("n_lines", F.size(lines).cast("bigint"))
            .withColumn("n_kept", F.size(kept).cast("bigint"))
            .withColumn(out_col, F.array_join(kept, "\n"))
            .withColumn("doc_pass", F.col("n_kept") >= min_lines))


def ccnet_buckets(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", lang_col: str = "lang",
                  n_buckets: int = 3) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (head/middle/tail).

    Scores every document under the self-trained add-1 unigram LM and
    splits each language into ``n_buckets`` equal-size tiers — the
    CCNet shape where downstream sampling keeps 'head' (lowest
    perplexity, most fluent) and drops or down-weights 'tail'.

    Scoring is INTEGER-EXACT end to end (the DSIR pattern): the
    per-token log-prob is rounded ONCE, inside the Zipf-bounded model
    table (``lp_e12`` bigint); each document's score is then

        nll_e9 = (−Σ lp_e12) div (n_tokens · 1000)

    — an exact bigint sum + integer division, so the tier sort key
    (``nll_e9``, id) is bit-identical across engines, reruns and
    partitionings. Perplexity is exp(nll_e9/1e9); since exp is
    monotone, ranking by nll IS ranking by perplexity — no float ever
    reaches an output or a sort key. (Before r9 this keyed on
    ``ppl_e2 = round(round(exp(·),6)·100)`` — two decimal roundings of
    an order-sensitive float sum, one boundary doc away from an
    engine-mismatch.)

    Distributed shape: explode → map-side-combined model groupBy →
    1-row totals broadcast → token-keyed score join → per-doc re-agg →
    one window on the language key. Returns one row per non-empty doc:
    (id, n_tokens, nll_e9, lang, ppl_bucket).
    """
    from pyspark.sql import Window
    base = (df.select(F.col(id_col), tokens(text_col).alias("_toks"))
              .where(F.size("_toks") > 0))
    toks = base.select(id_col, F.explode("_toks").alias("tok"))
    # totals over the Zipf-bounded model table (see unigram_lm_scores) —
    # a separate `.agg()` over the LAZY model would re-run everything
    # upstream of `toks` a third time (in the crawl→corpus pipeline that
    # upstream includes the WARC parse, HTML extraction and C4 cleaning;
    # r15, guide §1.2: upstream passes 3 → 2). r16 (advisor): the model
    # is materialized once (localCheckpoint, vocab-sized) and the totals
    # are a scalable partial aggregate over it broadcast back as a 1-row
    # crossJoin — the r15 whole-table window funneled the unbounded
    # vocabulary through one task, a cluster-scale bottleneck the agg
    # form avoids. Upstream pass count unchanged.
    model = (toks.groupBy("tok").agg(F.count("*").alias("cnt"))
             .localCheckpoint(eager=True))
    totals = model.agg(F.sum("cnt").alias("t_tokens"),
                       F.count("*").alias("v_size"))
    modelfx = (model.crossJoin(F.broadcast(totals))
               .select("tok",
                       F.round(F.log((F.col("cnt") + F.lit(1.0))
                                     / (F.col("t_tokens")
                                        + F.col("v_size")))
                               * F.lit(1e12)).cast("bigint")
                        .alias("lp_e12")))
    # the per-doc sum accumulates as decimal(38,0) (128-bit): lp_e12
    # terms run ~3e13, so a ~3e5-token document would silently wrap a
    # bigint accumulator in non-ANSI Spark — the PageRank overflow
    # class. DuckDB already sums bigint into hugeint, so this also
    # matches the oracle's arithmetic exactly; the div result is
    # identical for every non-overflowing input.
    scored = (toks.join(modelfx, "tok")
              .groupBy(id_col)
              .agg(F.count("*").cast("bigint").alias("n_tokens"),
                   F.expr("(-sum(cast(lp_e12 as decimal(38,0))))"
                          " div (count(*) * 1000)")
                    .cast("bigint").alias("nll_e9")))
    joined = scored.join(df.select(id_col, lang_col), id_col)
    w = Window.partitionBy(lang_col).orderBy("nll_e9", id_col)
    tier = F.ntile(n_buckets).over(w)
    label = (F.when(tier == 1, "head")
              .when(tier == n_buckets, "tail")
              .otherwise("middle")) if n_buckets == 3 \
        else F.concat(F.lit("tier"), tier.cast("string"))
    return joined.withColumn("ppl_bucket", label)


def span_corruption_examples(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text",
                             mask_rate: float = 0.15) -> DataFrame:
    """T5-style span-corruption pairs (public recipe: Raffel et al. 2020,
    "Exploring the Limits of Transfer Learning", §3.1.4): mask runs of
    tokens, replace each run with one ``<extra_id_N>`` sentinel in the
    input, and emit the masked runs (each preceded by its sentinel) as
    the target — the denoising-objective example builder.

    Deterministic where T5's sampler is random: a token at position
    ``p`` of document ``d`` is masked iff
    ``md5(d || ':' || p)``'s first-byte bucket < ``round(mask_rate·256)``
    — a pure row function, so the corpus corrupts identically on every
    run/engine and a DuckDB oracle replays the whole example. The
    effective rate is therefore quantized to 1/256 steps (a requested
    rate is off by at most 1/512); a positive rate that would quantize
    to zero buckets raises ``ValueError`` rather than silently masking
    nothing
    (consecutive masked tokens merge into one span exactly as T5's
    span-level noise does — the i.i.d. bucket draw gives geometric
    span lengths instead of T5's mean-3 sampler; rate is per-token).

    Output: one row per document with ≥1 token — input_text,
    target_text (empty string when nothing was masked), n_spans,
    n_masked. Caveat: a document that already CONTAINS a literal
    ``<extra_id_N>`` token makes sentinel↔span pairing ambiguous for a
    downstream decoder (real T5 tokenizers reserve those ids); scrub or
    escape such tokens upstream if the corpus can contain them. Shape at 100 TB: posexplode → ONE window partitioned by
    doc (mask islands numbered via the pos − masked-rank gaps-and-
    islands trick) → a groupBy(doc) that reuses the window's
    partitioning: one exchange of token rows total, plan-asserted.
    """
    from pyspark.sql import Window

    if not 0.0 <= mask_rate <= 1.0:
        raise ValueError("mask_rate must be in [0, 1]")
    thr = int(round(mask_rate * 256))
    if mask_rate > 0.0 and thr == 0:
        # the bucket comparison quantizes the rate to 1/256 — a rate
        # below ~0.2% would silently mask NOTHING; refuse instead.
        # (strictly greater than 1/512: exactly 1/512 gives round(0.5)
        # which banker's-rounds to 0 buckets too)
        raise ValueError(
            f"mask_rate={mask_rate} quantizes to 0/256 — the masking "
            "decision has 1/256 resolution; use mask_rate > 1/512 "
            "(rounds to >= 1 bucket) or exactly 0.0")
    toks = (df.select(F.col(id_col), tokens(text_col).alias("_t"))
              .where(F.size("_t") > 0)
              .select(id_col, F.posexplode("_t").alias("_p", "_tok")))
    # coalesce the id: a NULL id would make the bucket NULL and every
    # when() branch below fall through — the document's content would
    # silently vanish from the pairs (NULL-id docs still merge into one
    # group at the groupBy, as in any groupBy).
    bucket = hash_bucket(
        F.concat(F.coalesce(F.col(id_col).cast("string"), F.lit("")),
                 F.lit(":"), F.col("_p").cast("string")), 256)
    toks = toks.withColumn("_m", bucket < F.lit(thr))
    # a span STARTS at a masked token whose predecessor is unmasked (or
    # absent); span index = running count of starts - 1. One window
    # partitioning (the doc), two passes over it (lag, then sum).
    wdoc = Window.partitionBy(id_col).orderBy("_p")
    toks = toks.withColumn(
        "_start",
        F.col("_m") & ~F.coalesce(F.lag("_m").over(wdoc), F.lit(False)))
    toks = toks.withColumn(
        "_span_id",
        F.when(F.col("_m"),
               F.sum(F.col("_start").cast("int")).over(wdoc) - 1))
    sentinel = F.concat(F.lit("<extra_id_"),
                        F.col("_span_id").cast("string"), F.lit(">"))
    # input: unmasked tokens + one sentinel at each span's FIRST position
    in_piece = F.when(~F.col("_m"), F.col("_tok")) \
                .when(F.col("_start"), sentinel)
    # target: sentinel before each span's first token, then the span run
    tgt_piece = F.when(F.col("_start"),
                       F.concat(sentinel, F.lit(" "), F.col("_tok"))) \
                 .when(F.col("_m"), F.col("_tok"))
    assembled = (toks
                 .withColumn("_in", in_piece)
                 .withColumn("_tgt", tgt_piece)
                 .groupBy(id_col)
                 .agg(F.concat_ws(" ", F.transform(
                          F.array_sort(F.collect_list(
                              F.struct("_p", "_in"))),
                          lambda s: s["_in"])).alias("input_text"),
                      F.concat_ws(" ", F.transform(
                          F.array_sort(F.collect_list(
                              F.when(F.col("_tgt").isNotNull(),
                                     F.struct("_p", "_tgt")))),
                          lambda s: s["_tgt"])).alias("target_text"),
                      F.countDistinct("_span_id").cast("bigint")
                       .alias("n_spans"),
                      F.sum(F.when(F.col("_m"), 1).otherwise(0))
                       .cast("bigint").alias("n_masked")))
    return assembled


def unicode_normalize(col: str | Column = "text",
                      form: str = "NFC") -> Column:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the canonicalization
    step every serious text pipeline runs before dedup and tokenization
    (C4/CCNet normalize first: 'café' precomposed and 'cafe'+U+0301
    decomposed must hash identically, or every dedup family silently
    treats them as distinct documents).

    Arrow-batched ``pandas_udf`` over ``unicodedata.normalize`` — the
    normalization tables are the Unicode standard's, so ANY conformant
    engine produces byte-identical output (DuckDB's ``nfc_normalize``
    replays the NFC form exactly — the cross-engine oracle shape).
    NULL passes through as NULL. Map-only: no shuffle, linear at 100 TB.
    """
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")

    # no annotations on f: `from __future__ import annotations` turns
    # them into strings pandas_udf can't resolve against local names
    @pandas_udf("string")
    def f(s):
        return s.map(lambda t: None if t is None
                     else unicodedata.normalize(form, t))

    return f(col if isinstance(col, Column) else F.col(col))

"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting (BASELINE.json north_star).

All JVM-side Column builders — regex/array/aggregate expressions, no
Python UDFs — so they vectorize inside whole-stage codegen and the same
logic is expressible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

# Tiny seeded stopword lists per language — a deterministic n-gram/stopword
# heuristic (public technique; real pipelines plug fastText etc. here).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "de", "los"],
}


def token_count(text_col: str):
    """Column: whitespace token count (bigint)."""
    return F.size(
        F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    ).cast("bigint")


def char_count(text_col: str):
    return F.length(F.col(text_col)).cast("bigint")


def _marker_hits(text_col: str, words: list[str]):
    """Column: how many of ``words`` appear as whole tokens (0..len)."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    hits = [
        F.when(padded.contains(f" {w} "), 1).otherwise(0) for w in words
    ]
    total = hits[0]
    for h in hits[1:]:
        total = total + h
    return total


def lang_id(text_col: str):
    """Column: predicted language code by stopword-marker voting.

    Deterministic tie-break: higher score wins, then alphabetical code;
    no markers hit → 'und' (undetermined).
    """
    scores = {code: _marker_hits(text_col, ws) for code, ws in LANG_MARKERS.items()}
    # greatest(...) then pick first code (alphabetical) achieving it.
    best = F.greatest(*scores.values())
    result = F.lit("und")
    for code in sorted(LANG_MARKERS, reverse=True):
        result = F.when(
            (scores[code] > 0) & (scores[code] == best), F.lit(code)
        ).otherwise(result)
    return result


def quality_score(text_col: str):
    """Column: [0,1] quality heuristic from length / punctuation / word shape.

    score = 0.4 * clamp(tokens/100) + 0.3 * (1 - punct_ratio)
          + 0.3 * clamp(mean_word_len/8), rounded to 6 decimals —
    deterministic per row in both engines (pure double arithmetic).
    """
    tokens = token_count(text_col).cast("double")
    chars = char_count(text_col).cast("double")
    punct = F.length(
        F.regexp_replace(F.col(text_col), r"[^\.,;:!\?]", "")
    ).cast("double")
    mean_word = F.when(tokens > 0, (chars - (tokens - 1)) / tokens).otherwise(
        F.lit(0.0)
    )
    score = (
        F.least(tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.when(chars > 0, punct / chars).otherwise(0.0)) * 0.3
        + F.least(mean_word / F.lit(8.0), F.lit(1.0)) * 0.3
    )
    return F.round(score, 6)


def fingerprint(text_col: str):
    """Column: polynomial rolling hash of the normalized text.

    ``acc = (acc * 31 + code(c)) mod 1e9+7`` over the lowercased,
    whitespace-collapsed text — a classic Rabin-Karp fingerprint
    expressible in both Spark and DuckDB SQL (aggregate / list_reduce),
    unlike engine-specific hash builtins. The modulus keeps every
    intermediate < 2^35, safe under ANSI overflow checking.
    """
    return F.expr(
        "aggregate("
        f"filter(split(lower(regexp_replace({text_col}, '\\\\s+', ' ')), ''), c -> c != ''),"
        " cast(0 as bigint),"
        " (acc, c) -> pmod(acc * 31 + ascii(c), 1000000007)"
        ")"
    )


#: GPT-2-style pre-tokenizer regex, restricted to the lookahead-free
#: subset shared by Java regex (Spark) and RE2 (DuckDB): contraction
#: suffixes, letter runs, digit runs, punctuation runs (each with an
#: optional leading space), then residual whitespace.
BPE_TOKEN_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_tokens(text_col: str):
    """Column: array of BPE-style pre-tokens (subword-split input units).

    Group index 0 = the whole match (the pattern only has non-capturing
    groups; Spark defaults to group 1, DuckDB to 0).
    """
    return F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_REGEX), F.lit(0))


def bpe_token_count(text_col: str):
    """Column: BPE-style pre-token count — the unit LLM data pipelines
    budget by (≈ tokens before merges), cheaper than a real tokenizer and
    engine-portable."""
    non_ws = F.filter(
        bpe_tokens(text_col), lambda t: F.trim(t) != F.lit("")
    )
    return F.size(non_ws).cast("bigint")


def sql_bpe_token_count(text_expr: str) -> str:
    """DuckDB spelling of :func:`bpe_token_count` (for oracles)."""
    pattern = BPE_TOKEN_REGEX.replace("'", "''")
    return (
        f"CAST(len(list_filter(regexp_extract_all({text_expr}, "
        f"'{pattern}'), t -> trim(t) != '')) AS BIGINT)"
    )


def tfidf_top_terms(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_len: int = 3,
    doc_filter=None,
):
    """Top-k TF-IDF terms per document (smooth idf, sklearn-style).

    Scale design: the token explode + df aggregation run over ALL documents
    (idf must see the full corpus), but term-frequency rows are computed only
    for the documents selected by ``doc_filter`` — at 100 TB the candidate
    set is usually a tiny slice, so the big side contributes only a
    per-term count (map-side partial agg), never a doc×term blowup. The
    per-term document-frequency table is small (vocabulary-sized) and is
    broadcast into the tf join.

    ``ln`` and the tf×idf product are rounded to 6 decimals so ranking is
    reproducible across engines (libm ulp differences otherwise reorder
    near-ties).
    """
    from pyspark.sql import DataFrame, Window

    assert isinstance(df, DataFrame)
    tokens = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("term"),
    ).filter((F.col("term") != "") & (F.length("term") >= min_len))
    df_per_term = tokens.groupBy("term").agg(
        F.countDistinct(id_col).alias("df")
    )
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    selected = tokens if doc_filter is None else tokens.filter(doc_filter)
    tf = selected.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.join(F.broadcast(df_per_term), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.round(
                    F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))), 6
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "rk", "term", "tf", "df", "tfidf")
    )


def pack_token_shards(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 4096,
    partition_col: str | None = None,
):
    """Assign documents to token-budget shards (LLM training sharding).

    Sequential-fill packing: documents are ordered deterministically by
    ``id_col``, token counts are cumulated with a window, and a document
    belongs to shard ``floor(start_offset / budget)`` — so every shard
    except the last holds >= ``budget`` tokens once its first straddling
    document closes it. This is the standard approximate packing used for
    corpus sharding (exact bin packing is NP-hard and order-destroying).

    Scale design: with ``partition_col`` the cumsum window partitions by
    that column (e.g. ``lang`` or a coarse hash bucket) so no single
    reducer sees the whole corpus; shard identity is then
    (partition value, local shard index). A global window (``None``) is
    exact but single-reducer — use only for modest corpora.

    Returns the frame + ``n_tokens``, ``shard_id`` columns.
    """
    from pyspark.sql import DataFrame, Window

    assert isinstance(df, DataFrame)
    with_tokens = df.withColumn("n_tokens", bpe_token_count(text_col))
    w = (
        Window.partitionBy(partition_col) if partition_col else Window
    ).orderBy(id_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return with_tokens.withColumn(
        "shard_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget)
        ).cast("bigint"),
    )


def corpus_frequency_score(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 1,
):
    """Per-document common-token prior score (CCNet-family quality signal,
    transcendental-free).

    A document whose tokens are corpus-common reads as "in-distribution";
    one full of rare junk tokens scores low — the same signal a unigram
    LM perplexity filter extracts, but with NO log/exp anywhere so the
    score is bit-identical across engines (libm ``log`` differs by ulps
    between JVMs and DuckDB; plain +,-,*,/ and ``floor`` are
    IEEE-correctly-rounded everywhere):

        freq_score = floor(1e9 * sum_t cnt(t) / (n_tokens * N_corpus))

    where ``cnt(t)`` is the token's corpus frequency and ``N_corpus`` the
    total token count. The two sums are INTEGER aggregations
    (order-independent under any partitioning); the single double
    divide/multiply/floor chain is exact-deterministic.

    Scale: one token explode, one vocabulary-sized frequency aggregation
    joined back on the token key, one per-doc sum — the same join shape
    as :func:`tfidf_top_terms` — plus a 1-row corpus-total scalar joined
    broadcast (the x21/x32 envelope). The vocabulary join carries NO
    broadcast hint: a web corpus's vocabulary is unbounded (junk tokens
    keep it growing with corpus size), so the strategy is left to
    AQE/auto-broadcast — small vocabularies still broadcast at runtime,
    a 100 TB crawl's vocabulary falls back to a shuffled hash join on
    the token key instead of OOM-ing the driver. ``min_len`` trims the
    vocabulary tail if a bounded build side is required.

    Returns one row per document with tokens: ``id_col, sum_cnt,
    n_tokens, freq_score``.
    """
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)
    tokens = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("term"),
    ).filter((F.col("term") != "") & (F.length("term") >= min_len))
    freq = tokens.groupBy("term").agg(F.count(F.lit(1)).alias("__cnt"))
    totals = freq.agg(F.sum("__cnt").alias("__n_corpus"))
    per_doc = (
        tokens.join(freq, "term")
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").alias("sum_cnt"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        F.col(id_col),
        "sum_cnt",
        "n_tokens",
        F.floor(
            F.lit(1000000000.0)
            * (
                F.col("sum_cnt").cast("double")
                / (
                    F.col("n_tokens").cast("double")
                    * F.col("__n_corpus").cast("double")
                )
            )
        ).cast("bigint").alias("freq_score"),
    )


def vocab_stats(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    min_tf: int | None = None,
    top_n: int | None = None,
):
    """Corpus vocabulary statistics: one row per distinct token with its
    term frequency ``tf`` (total occurrences) and document frequency
    ``df`` (distinct docs containing it).

    The artifact every frequency-driven pass consumes: the corpus
    frequency table for :func:`corpus_frequency_score`, idf inputs for
    :func:`tfidf_top_terms`, stopword candidates, tokenizer-vocab seeds,
    and heavy-hitter junk-token reports (``top_n``).

    Scale: tokens explode map-side, then ONE (token, id)-keyed partial
    aggregation collapses per-doc repeats before the vocabulary-keyed
    rollup — tf and df come out of the same two-shuffle pipeline with no
    count-distinct Expand. ``top_n`` uses orderBy+limit, which Spark
    executes as TakeOrdered (per-partition partial top-N, driver merge
    of N-row heads) — safe at any corpus size for bounded N.

    Ordering contract: ``top_n`` ranks by (tf DESC, token ASC), so the
    result SET is deterministic under ties.
    """
    toks = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    if lowercase:
        toks = F.transform(toks, F.lower)
    per_doc = (
        df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("token"))
        .groupBy("token", "__id")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    out = per_doc.groupBy("token").agg(
        F.sum("__c").alias("tf"),
        F.count(F.lit(1)).alias("df"),
    )
    if min_tf is not None:
        out = out.filter(F.col("tf") >= int(min_tf))
    if top_n is not None:
        out = out.orderBy(F.col("tf").desc(), F.col("token")).limit(int(top_n))
    return out


def sql_vocab_stats(
    lowercase: bool = True,
    min_tf: int | None = None,
    top_n: int | None = None,
    table: str = "documents",
    text_expr: str = "text",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB spelling of :func:`vocab_stats` (same tokenization, same
    tie-break ordering)."""
    tok = "t" if not lowercase else "lower(t)"
    where = f"WHERE tf >= {int(min_tf)}" if min_tf is not None else ""
    order = (
        f"ORDER BY tf DESC, token LIMIT {int(top_n)}"
        if top_n is not None
        else ""
    )
    return f"""
    SELECT token, tf, df FROM (
      SELECT token, SUM(c)::BIGINT AS tf, COUNT(*)::BIGINT AS df FROM (
        SELECT {tok} AS token, {id_expr} AS id, COUNT(*)::BIGINT AS c
        FROM (
          SELECT {id_expr}, unnest(
            list_filter(string_split_regex({text_expr}, '\\s+'), t -> t != '')
          ) AS t
          FROM {table}
        )
        GROUP BY 1, 2
      )
      GROUP BY token
    ) {where} {order}
    """


#: Unicode script ranges (BMP blocks, literal char-class patterns —
#: identical semantics in Java regex and RE2, so oracles share the
#: spelling). Bounded heuristic like the lang markers: the major writing
#: systems, not the full Unicode script property.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "[A-Za-zÀ-ɏ]",
    "cyrillic": "[Ѐ-ӿ]",
    "greek": "[Ͱ-Ͽ]",
    "arabic": "[؀-ۿ]",
    "hebrew": "[֐-׿]",
    "devanagari": "[ऀ-ॿ]",
    "han": "[一-鿿]",
    "kana": "[぀-ヿ]",
    "hangul": "[가-힯]",
}


def script_counts(text_col: str) -> dict[str, "F.Column"]:
    """Per-script character counts (length-diff after regexp strip —
    pure JVM, no UDF)."""
    text = F.col(text_col)
    return {
        name: (
            F.length(text) - F.length(F.regexp_replace(text, pattern, ""))
        ).cast("bigint")
        for name, pattern in SCRIPT_RANGES.items()
    }


def script_profile(df, text_col: str = "text"):
    """Annotate each document with per-script character counts
    (``script_<name>`` for every :data:`SCRIPT_RANGES` entry) and the
    ``dominant_script`` (most characters; ties alphabetical; no script
    characters at all → ``und``).

    The writing-system router of a multilingual pipeline: split a crawl
    by script before per-language processing, catch mislabeled-language
    docs (``lang='en'`` but Cyrillic-dominant), measure script mix per
    source. Complements :func:`lang_id` (stopword voting only works
    within a script). One narrow map — counts are length-diffs after a
    regexp strip, no UDF, no shuffle.
    """
    counts = script_counts(text_col)
    out = df
    for name, cnt in counts.items():
        out = out.withColumn(f"script_{name}", cnt)
    best = F.greatest(*(F.col(f"script_{n}") for n in SCRIPT_RANGES))
    dominant = F.lit("und")
    for name in sorted(SCRIPT_RANGES, reverse=True):
        c = F.col(f"script_{name}")
        dominant = F.when((c > 0) & (c == best), F.lit(name)).otherwise(
            dominant
        )
    return out.withColumn("dominant_script", dominant)


def sql_script_profile(text_expr: str, cols: str = "doc_id") -> str:
    """DuckDB spelling of :func:`script_profile` over ``documents``."""
    count_exprs = ",\n           ".join(
        f"(length(t) - length(regexp_replace(t, '{pat}', '', 'g')))::BIGINT"
        f" AS script_{name}"
        for name, pat in SCRIPT_RANGES.items()
    )
    best = "greatest(" + ", ".join(
        f"script_{n}" for n in SCRIPT_RANGES
    ) + ")"
    dominant = "'und'"
    for name in sorted(SCRIPT_RANGES, reverse=True):
        dominant = (
            f"CASE WHEN script_{name} > 0 AND script_{name} = {best} "
            f"THEN '{name}' ELSE {dominant} END"
        )
    return f"""
    SELECT * EXCLUDE (t), {dominant} AS dominant_script FROM (
      SELECT {cols}, {text_expr} AS t,
           {count_exprs}
      FROM documents
    )
    """


def normalize_unicode(text_col, form: str = "NFC"):
    """Column: Unicode-normalize a string column (NFC/NFD/NFKC/NFKD).

    Spark has no built-in normalizer, so the slow path is an
    Arrow-batched ``pandas_udf`` over ``unicodedata.normalize`` — but
    every normalization form is the identity on pure-ASCII text, so an
    ``rlike`` fast path keeps ASCII rows (the bulk of an
    English-dominant web corpus) entirely JVM-side and only non-ASCII
    rows cross the Arrow boundary. NULL in → NULL out.

    NFC output is byte-identical to DuckDB's ``nfc_normalize`` (both
    implement UAX #15), which is what oracle-checks the operator.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"invalid normalization form '{form}'")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )

    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.when(col.rlike(r"^[\x00-\x7F]*$"), col).otherwise(_norm(col))


def heavy_hitters(
    df,
    text_col: str = "text",
    top_n: int = 50,
    k: int = 1000,
) -> "DataFrame":
    """EXACT corpus heavy hitters without shuffling the vocabulary:
    the top ``top_n`` tokens by frequency among all tokens with
    ``count * k > N`` (N = total token occurrences), ordered by
    (count desc, token asc).

    Physical strategy (approximate prefilter + exact confirm, like the
    x55 Bloom pass):

    1. One scan runs a Misra-Gries summary of capacity ``k`` per
       partition (Arrow batches; per-batch exact value_counts merged
       with the Agarwal et al. 2012 mergeable-summaries compaction —
       subtract the (k+1)-th largest, keep positive). By pigeonhole any
       token with global count > N/k exceeds its local threshold
       N_p/k in >= 1 partition, so the union of summaries is a PROVABLE
       SUPERSET of every qualifying token. Emitted volume: <= k tokens
       + 1 total-count row per partition — no full-vocab shuffle ever
       exists.
    2. The candidate tokens broadcast back; a second scan exact-counts
       ONLY them (map-side partial aggs on a tiny key set) and applies
       the integer guarantee filter ``count * k > N`` — false
       candidates die here, so the result is bit-identical to the plain
       exact-SQL spelling no matter how partitioning shaped the
       summaries.

    Contrast with ``vocab_stats`` (x46), which shuffles every distinct
    token: use that for the full frequency table artifact, this when
    you only need the head of the distribution at 100 TB. ``k`` bounds
    both the driver's candidate set (<= partitions * k) and which
    tokens can qualify; raise it to reach deeper into the tail.
    """
    from pyspark.sql import DataFrame
    from pyspark.sql.functions import broadcast

    assert isinstance(df, DataFrame)
    if k < 1 or top_n < 1:
        raise ValueError("k and top_n must be >= 1")
    spark = df.sparkSession
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.array_remove(F.split(F.col(text_col), r"\s+"), "")
            ).alias("token")
        )
    )

    def _mg(batches):
        counters: dict[str, int] = {}
        seen = 0
        for pdf in batches:
            vc = pdf["token"].value_counts()
            seen += int(vc.sum())
            for tok, cnt in vc.items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            if len(counters) > k:
                # mergeable-summaries compaction: subtract the (k+1)-th
                # largest count, drop non-positive — error <= N_p/(k+1).
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    t: c - cut for t, c in counters.items() if c - cut > 0
                }
        out = pd.DataFrame(
            {"token": list(counters), "weight": list(counters.values())}
        )
        total = pd.DataFrame({"token": [None], "weight": [seen]})
        yield pd.concat([out, total], ignore_index=True).astype(
            {"weight": "int64"}
        )

    # Structural bound: <= k tokens + 1 total row per partition. The
    # limit+raise guards a pathological configuration (huge k x huge
    # partition count) from silently flooding the driver.
    max_summary_rows = 2_000_000
    summary = (
        toks.mapInPandas(_mg, "token string, weight long")
        .limit(max_summary_rows + 1)
        .collect()
    )
    if len(summary) > max_summary_rows:
        raise ValueError(
            "Misra-Gries summaries exceed 2M rows (partitions x k too "
            "large); lower k or coalesce the input"
        )
    n_total = sum(r["weight"] for r in summary if r["token"] is None)
    candidates = [r["token"] for r in summary if r["token"] is not None]
    if not candidates or n_total == 0:
        return spark.createDataFrame([], "token string, cnt bigint")
    cand_df = spark.createDataFrame(
        [(t,) for t in set(candidates)], "token string"
    )
    return (
        toks.join(broadcast(cand_df), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * F.lit(k) > F.lit(n_total))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(top_n)
    )


def pack_training_sequences(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    context_len: int = 4096,
    partition_col: str | None = None,
):
    """GPT-style concatenate-and-chop sequence packing: documents are
    laid back-to-back in deterministic ``id_col`` order and cut into
    fixed ``context_len``-token training sequences; a document
    straddling a boundary is SPLIT across sequences (unlike
    ``pack_token_shards``, which only assigns whole docs to shards).

    Emits one row per (document, sequence) overlap::

        seq_id           which training sequence the slice lands in
        doc_slice_start  0-based token offset of the slice in the doc
        doc_slice_len    tokens of this doc in this sequence
        seq_pos          where the slice starts inside the sequence

    so a writer can assemble every sequence exactly, and token
    accounting is airtight: sum(doc_slice_len) per seq_id == context_len
    for every closed sequence. Zero-token docs place nothing and emit
    no row. All arithmetic is integer (cumsum, div, greatest/least) —
    engine-portable.

    Scale: same contract as ``pack_token_shards`` — pass
    ``partition_col`` (e.g. ``lang`` or a coarse hash bucket) so the
    cumulative window partitions and sequence identity is
    (partition value, local seq_id); the global mode (``None``) is a
    documented single-reducer for modest corpora only.
    """
    from pyspark.sql import DataFrame, Window

    assert isinstance(df, DataFrame)
    if context_len < 1:
        raise ValueError("context_len must be >= 1")
    c = int(context_len)
    with_tokens = df.filter(F.col(text_col).isNotNull()).withColumn(
        "n_tokens", bpe_token_count(text_col)
    )
    w = (
        Window.partitionBy(partition_col) if partition_col else Window
    ).orderBy(id_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    placed = (
        with_tokens.withColumn(
            "__start", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "seq_id",
            F.explode(
                F.sequence(
                    F.expr(f"__start div {c}"),
                    F.expr(f"(__start + n_tokens - 1) div {c}"),
                )
            ),
        )
    )
    seq_lo = F.col("seq_id") * c
    doc_end = F.col("__start") + F.col("n_tokens")
    return (
        placed.withColumn(
            "doc_slice_start", F.greatest(seq_lo - F.col("__start"), F.lit(0))
        )
        .withColumn(
            "doc_slice_len",
            F.least(seq_lo + c, doc_end)
            - F.greatest(seq_lo, F.col("__start")),
        )
        .withColumn(
            "seq_pos", F.greatest(F.col("__start") - seq_lo, F.lit(0))
        )
        .drop("__start")
    )


def group_distinctive_terms(
    df,
    group_col: str,
    text_col: str = "text",
    k: int = 5,
    min_len: int = 3,
    min_tf: int = 1,
):
    """Top-k DISTINCTIVE terms per group — class-based TF-IDF (the
    c-TF-IDF idea popularized by BERTopic, public method): terms are
    scored ``tf_in_group * ln((1+n_groups)/(1+groups_containing))``, so
    a term every slice uses scores ~0 and each (source, lang, cluster)
    slice surfaces what makes it DIFFERENT — the dataset-card "what is
    actually in this slice" artifact.

    Same float-portability contract as ``tfidf_top_terms``: the ``ln``
    and the product are rounded to 6 decimals so rankings reproduce
    across engines. ``min_tf`` drops hapax noise before scoring.

    Scale: token explode → one (group, term) aggregation (map-side
    partials); the per-term group-frequency table is vocabulary-sized
    and broadcasts; n_groups is a 1-row broadcast scalar. Top-k is a
    window partitioned by group.
    """
    from pyspark.sql import DataFrame, Window

    assert isinstance(df, DataFrame)
    tokens = df.select(
        F.col(group_col),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("term"),
    ).filter((F.col("term") != "") & (F.length("term") >= min_len))
    tf = (
        tokens.groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") >= min_tf)
    )
    group_freq = tokens.groupBy("term").agg(
        F.countDistinct(group_col).alias("gf")
    )
    n_groups = df.select(
        F.countDistinct(group_col).alias("n_groups")
    )
    scored = (
        tf.join(F.broadcast(group_freq), "term")
        .crossJoin(F.broadcast(n_groups))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.round(
                    F.log(
                        (1.0 + F.col("n_groups")) / (1.0 + F.col("gf"))
                    ),
                    6,
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(group_col, "rk", "term", "tf", "gf", "score")
    )


#: Compact English stopword core (public, the NLTK/most-common subset) —
#: the default for stopword_fraction; pass a custom list per language.
DEFAULT_STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "but", "if", "then", "of", "in",
    "on", "at", "to", "for", "with", "by", "from", "as", "is", "are",
    "was", "were", "be", "been", "it", "its", "this", "that", "these",
    "those", "he", "she", "they", "we", "you", "i", "not", "no", "do",
    "does", "did", "have", "has", "had", "will", "would", "can", "could",
)


def stopword_fraction(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: "Sequence[str] | None" = None,
    lowercase: bool = True,
):
    """Per-doc stopword statistics: ``(id, n_tokens, n_stopwords,
    stopword_frac)`` — the classic language-quality feature (CCNet /
    Gopher family): natural prose carries a stable stopword rate;
    keyword-stuffed, boilerplate, or non-linguistic content does not.

    The stopword list joins as a BROADCAST table against the exploded
    tokens (not a giant IN-literal — the plan every lexicon-based
    feature should use, swappable per language at any list size up to
    the broadcast threshold). Zero-token docs are excluded (no row),
    NULL text likewise. Integer counts + one exact divide.

    Scale: explode → broadcast semi-count → one per-doc aggregation;
    the lexicon never shuffles the corpus.
    """
    from collections.abc import Sequence as _Seq  # noqa: F401

    from pyspark.sql import DataFrame
    from pyspark.sql.functions import broadcast

    assert isinstance(df, DataFrame)
    words = list(stopwords) if stopwords is not None else list(DEFAULT_STOPWORDS)
    if lowercase:
        words = [w.lower() for w in words]
    # Dedupe after case-folding: a duplicated lexicon entry would fan out
    # the left join against the exploded tokens, inflating BOTH n_tokens
    # and n_stopwords (user TOML lists arrive verbatim).
    words = list(dict.fromkeys(words))
    if not words:
        raise ValueError("stopwords must be non-empty")
    spark = df.sparkSession
    sw = spark.createDataFrame([(w,) for w in words], "__sw string")
    tok = F.col("__tok")
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(
                F.array_remove(F.split(F.col(text_col), r"\s+"), "")
            ).alias("__tok"),
        )
        .withColumn("__t", F.lower(tok) if lowercase else tok)
    )
    flagged = toks.join(
        broadcast(sw), toks["__t"] == sw["__sw"], "left"
    ).withColumn("__hit", F.when(F.col("__sw").isNotNull(), 1).otherwise(0))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("__hit").cast("bigint").alias("n_stopwords"),
        (
            F.sum("__hit").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("stopword_frac"),
    )


def zipf_fit(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 500,
    lowercase: bool = True,
):
    """Zipf's-law fit over the vocabulary head: least-squares slope and
    intercept of ``ln(tf)`` against ``ln(rank)`` for the ``top_k`` most
    frequent tokens — the dataset-card "does this look like natural
    language" number (prose sits near slope ≈ -1, Zipf 1949; templated/
    machine-generated corpora flatten or step). Output: ONE row
    ``(n_terms, zipf_slope, zipf_intercept)``.

    Portability: ranks come from the deterministic (tf DESC, token)
    ordering; each point is ``(round(ln(rank), 6), round(ln(tf), 6))``
    (the 6-decimal ln contract) and the four fit moments (Σx, Σy, Σxy,
    Σx²) are LEFT FOLDS in rank order over the k-element array —
    bit-identical across engines. Slope/intercept are closed-form OLS
    on those moments (one deterministic expression). NULL slope when
    fewer than 2 distinct ranks survive.

    Scale: the vocabulary pipeline is :func:`vocab_stats` (two-shuffle,
    no Expand); the head selection is TakeOrdered (per-partition top-k
    heads, bounded driver merge) and the fit runs on a k-row frame.
    """
    if top_k < 2:
        raise ValueError("top_k must be >= 2")
    vocab = vocab_stats(
        df, text_col=text_col, id_col=id_col, lowercase=lowercase,
        top_n=top_k,
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("tf")).alias("negtf"),
                F.col("token").alias("t"),
                F.col("tf").alias("tf"),
            )
        )
    )
    pts = F.transform(
        arr,
        lambda s, i: F.struct(
            F.round(F.log((i + F.lit(1)).cast("double")), 6).alias("x"),
            F.round(F.log(s["tf"].cast("double")), 6).alias("y"),
        ),
    )

    def fold(term):
        # NB: the merge lambda must be binary — extra defaulted params
        # change the arity PySpark reads — so bind `term` via closure.
        def merge(acc, p):
            return acc + term(p)

        return F.aggregate(pts, F.lit(0.0), merge)

    agg = vocab.agg(
        F.size(arr).cast("bigint").alias("n_terms"),
        fold(lambda p: p["x"]).alias("__sx"),
        fold(lambda p: p["y"]).alias("__sy"),
        fold(lambda p: p["x"] * p["y"]).alias("__sxy"),
        fold(lambda p: p["x"] * p["x"]).alias("__sxx"),
    )
    k = F.col("n_terms").cast("double")
    den = k * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = (k * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / den
    return agg.select(
        "n_terms",
        F.when(den > 0, slope).alias("zipf_slope"),
        F.when(
            den > 0, (F.col("__sy") - slope * F.col("__sx")) / k
        ).alias("zipf_intercept"),
    )


def js_divergence(
    df_p,
    df_q,
    text_col: str = "text",
    lowercase: bool = True,
    term_scale: int = 12,
):
    """Jensen-Shannon divergence between the token UNIGRAM distributions
    of two corpora (nats, symmetric, bounded by ln 2) — the
    domain-similarity number data-mixture work ranks sources by ("how
    close is this crawl slice to my target distribution?"). Output: ONE
    row ``(n_tokens_p, n_tokens_q, vocab_union, jsd)``.

    ``JSD = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m)`` with ``m = (p+q)/2`` over
    the union vocabulary; absent terms contribute 0 on their side
    (no smoothing needed — m > 0 wherever either side is present).

    Portability at ANY vocabulary size: the union vocabulary does NOT
    fit an order-canonical fold (a 100M-term array cannot ride one
    row), so this uses the other determinism trick — each per-term
    float contribution is computed from exact integers (term counts +
    the two grand totals, identical in every engine), QUANTIZED to
    fixed-point ``round(term · 10^term_scale)`` BIGINT, and summed as
    exact integers (order-independent by construction); the single
    dequantizing divide happens once at the end. Resolution 1e-12 per
    term bounds total error by ``vocab · 5e-13``.

    Scale: one token-count aggregation per corpus (two-shuffle
    vocab_stats shape collapsed to tf only), a full outer equi-join on
    the term, map-side term arithmetic, ONE global integer sum. No
    fold, no window, no driver state.
    """
    from pyspark.sql import DataFrame

    assert isinstance(df_p, DataFrame) and isinstance(df_q, DataFrame)
    if not 0 < term_scale <= 15:
        raise ValueError("term_scale must be in (0, 15]")

    def tf(df, out):
        toks = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
        if lowercase:
            toks = F.transform(toks, F.lower)
        return (
            df.select(F.explode(toks).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias(out))
        )

    p_tf = tf(df_p, "__cp")
    q_tf = tf(df_q, "__cq")
    joined = p_tf.join(q_tf, "token", "full_outer").select(
        F.coalesce("__cp", F.lit(0)).cast("bigint").alias("__cp"),
        F.coalesce("__cq", F.lit(0)).cast("bigint").alias("__cq"),
    )
    # Grand totals derive from the joined vocab table (one scan each
    # side feeds the join; no second corpus pass).
    totals = joined.agg(
        F.sum("__cp").cast("bigint").alias("n_tokens_p"),
        F.sum("__cq").cast("bigint").alias("n_tokens_q"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_union"),
    )
    # Per-term contributions need the totals: compute them in a second
    # pass over the vocab table with the totals as a 1-row broadcast.
    q_int = F.lit(int(10**term_scale)).cast("double")
    cp = F.col("__cp").cast("double")
    cq = F.col("__cq").cast("double")
    tp = F.col("n_tokens_p").cast("double")
    tq = F.col("n_tokens_q").cast("double")
    p = cp / tp
    q = cq / tq
    m = (p + q) / F.lit(2.0)
    term = (
        F.when((F.col("__cp") > 0) & (tp > 0), p * F.log(p / m)).otherwise(
            F.lit(0.0)
        )
        + F.when((F.col("__cq") > 0) & (tq > 0), q * F.log(q / m)).otherwise(
            F.lit(0.0)
        )
    )
    quantized = (
        joined.join(F.broadcast(totals), how="cross")
        .select(
            "n_tokens_p",
            "n_tokens_q",
            "vocab_union",
            F.round(term * q_int).cast("bigint").alias("__tq"),
        )
    )
    return quantized.groupBy(
        "n_tokens_p", "n_tokens_q", "vocab_union"
    ).agg(
        (
            (F.sum("__tq").cast("double") / q_int) / F.lit(2.0)
        ).alias("jsd")
    )


#: ln 2 as a shared LITERAL (not a libm call): both engines compute the
#: absent-token JSD mass from the identical constant, removing the one
#: transcendental that group_js_divergence cannot quantize away.
LN2_LITERAL = 0.6931471805599453


def group_js_divergence(
    df,
    group_col: str = "source",
    text_col: str = "text",
    lowercase: bool = True,
    term_scale: int = 12,
):
    """Per-group Jensen-Shannon divergence of each slice's token
    distribution FROM THE WHOLE CORPUS — the data-mixture ranking table
    ("which sources look least like the corpus I want?"): one row per
    group ``(group, n_tokens, jsd_vs_corpus)``, nats, <= ln 2.

    The naive sum runs over |groups| × |vocab| terms (every group pays
    for every corpus token it does NOT contain). This implementation
    stays on the (group, token) table: for tokens ABSENT from a group,
    ``p = 0`` and ``m = q/2``, so their total contribution collapses in
    closed form to ``½·ln2·(1 − Q_g)`` with ``Q_g = Σ_{t∈g} q_t`` — and
    ``Q_g`` is a ratio of exact integers. Present-token contributions
    are quantized to ``10^-term_scale`` fixed-point BIGINT and summed
    order-independently (the x90 pattern); ``ln 2`` enters as a shared
    literal, not a libm call — bit-identical across engines.

    The corpus distribution INCLUDES the group itself (a dominant
    group therefore scores low by construction — it IS the corpus);
    compare against an external target corpus with
    :func:`js_divergence` per slice if exclusion is wanted.

    Scale: one (group, token) aggregation over the corpus; the global
    token table derives FROM it (no second scan); one equi-join on the
    token; integer sums grouped by the (small) group domain.
    """
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)
    if not 0 < term_scale <= 15:
        raise ValueError("term_scale must be in (0, 15]")
    toks = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    if lowercase:
        toks = F.transform(toks, F.lower)
    tf_gt = (
        df.select(F.col(group_col).alias("__g"), F.explode(toks).alias("__t"))
        .groupBy("__g", "__t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cgt"))
    )
    tf_t = tf_gt.groupBy("__t").agg(
        F.sum("__cgt").cast("bigint").alias("__ct")
    )
    n_g = tf_gt.groupBy("__g").agg(
        F.sum("__cgt").cast("bigint").alias("__ng")
    )
    n_all = tf_t.agg(F.sum("__ct").cast("bigint").alias("__n"))
    q_int = F.lit(float(10**term_scale))
    joined = (
        tf_gt.join(tf_t, "__t")
        .join(F.broadcast(n_g), "__g")
        .crossJoin(F.broadcast(n_all))
    )
    p = F.col("__cgt").cast("double") / F.col("__ng").cast("double")
    q = F.col("__ct").cast("double") / F.col("__n").cast("double")
    m = (p + q) / F.lit(2.0)
    term = p * F.log(p / m) + q * F.log(q / m)
    per_group = (
        joined.select(
            "__g",
            "__ng",
            "__n",
            "__ct",
            F.round(term * q_int).cast("bigint").alias("__tq"),
        )
        .groupBy("__g")
        .agg(
            F.max("__ng").alias("__ng"),
            F.max("__n").alias("__n"),
            F.sum("__tq").cast("bigint").alias("__qsum"),
            F.sum("__ct").cast("bigint").alias("__csum"),
        )
    )
    present = (F.col("__qsum").cast("double") / q_int) / F.lit(2.0)
    absent = (
        F.lit(LN2_LITERAL)
        * (
            (F.col("__n") - F.col("__csum")).cast("double")
            / F.col("__n").cast("double")
        )
        / F.lit(2.0)
    )
    return per_group.select(
        F.col("__g").alias(group_col),
        F.col("__ng").alias("n_tokens"),
        (present + absent).alias("jsd_vs_corpus"),
    )


def cross_entropy_score(
    df,
    ref_df,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    ln_scale: int = 6,
):
    """Per-document unigram cross-entropy under a REFERENCE corpus's
    token distribution (nats/token) — the CCNet-style "score the crawl
    against the target domain" signal: low H = reads like the
    reference, high H = out-of-distribution or junk. Unlike
    :func:`corpus_frequency_score` (arithmetic-mean common-token prior
    against the corpus ITSELF), this is the geometric-mean/perplexity
    proxy against an EXTERNAL target, with Laplace smoothing
    ``p_ref(t) = (c_ref(t) + 1) / (N_ref + V_ref + 1)`` so out-of-vocab
    tokens get the floor probability mass (the +1 in the denominator is
    the OOV pseudo-type). Output: ``(id, n_tokens, cross_entropy)``.

    Portability: each token occurrence contributes
    ``round(ln(p_ref), ln_scale)`` quantized to fixed-point BIGINT
    (``round(x · 10^ln_scale)``); per-doc sums are exact integer
    aggregations, and ``H = -(sum / 10^ln_scale) / n_tokens`` is one
    deterministic divide chain — bit-identical across engines and
    partitionings.

    Scale: reference counts are one vocabulary-sized aggregation; the
    corpus side is a token explode + one equi-join on the token (AQE
    broadcasts a small reference vocab) + one per-doc integer sum.
    """
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame) and isinstance(ref_df, DataFrame)
    if not 0 < ln_scale <= 9:
        raise ValueError("ln_scale must be in (0, 9]")
    q = 10**ln_scale

    def toks(frame):
        t = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
        return F.transform(t, F.lower) if lowercase else t

    ref_counts = (
        ref_df.filter(F.col(text_col).isNotNull())
        .select(F.explode(toks(ref_df)).alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cref"))
    )
    ref_totals = ref_counts.agg(
        F.sum("__cref").cast("bigint").alias("__nref"),
        F.count(F.lit(1)).cast("bigint").alias("__vref"),
    )
    doc_toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(toks(df)).alias("__t"))
    )
    p = (
        (F.coalesce(F.col("__cref"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.col("__nref") + F.col("__vref") + F.lit(1)).cast("double")
    )
    contrib = F.round(F.round(F.log(p), ln_scale) * F.lit(float(q))).cast(
        "bigint"
    )
    scored = (
        doc_toks.join(ref_counts, "__t", "left")
        .crossJoin(F.broadcast(ref_totals))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(contrib).cast("bigint").alias("__lsum"),
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        (
            (F.lit(0.0) - F.col("__lsum").cast("double") / F.lit(float(q)))
            / F.col("n_tokens").cast("double")
        ).alias("cross_entropy"),
    )


def vocab_coverage(
    df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    top_n: int = 1000,
    lowercase: bool = True,
) -> DataFrame:
    """Per-group vocabulary coverage against a reference top-N vocab —
    the tokenizer/corpus-fit report: what fraction of a slice's token
    OCCURRENCES (and distinct TYPES) falls inside the reference
    corpus's ``top_n`` most frequent tokens. High OOV on a language
    slice means the reference vocab (or the tokenizer trained on it)
    under-serves that slice — the standard signal for rebalancing a
    tokenizer training mix.

    Output per group: ``n_tokens, n_covered, oov_rate`` (occurrence
    level) and ``n_types, n_types_covered, type_coverage`` (type
    level). Reference vocab ties at the top-N boundary break by token
    text ascending — fully deterministic across engines.

    Scale: the vocab is one reference-side aggregation + a bounded
    top-N (TakeOrdered, never a full sort); the corpus side is a token
    explode + one broadcast equi-join on the token + two |groups|-row
    integer aggregations (the type-level one from a pre-distincted
    (group, token) table — deliberately not countDistinct, which would
    Expand the occurrence stream).
    """
    if top_n < 1:
        raise ValueError("top_n must be >= 1")

    def toks(frame):
        t = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
        return F.transform(t, F.lower) if lowercase else t

    vocab = (
        ref_df.filter(F.col(text_col).isNotNull())
        .select(F.explode(toks(ref_df)).alias("__tok"))
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("__tok").asc())
        .limit(int(top_n))
        .select("__tok", F.lit(1).alias("__in_vocab"))
    )
    stream = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(group_col), F.explode(toks(df)).alias("__tok"))
        .join(F.broadcast(vocab), "__tok", "left")
    )
    occ = stream.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.count("__in_vocab").cast("bigint").alias("n_covered"),
    )
    types = (
        stream.select(group_col, "__tok", "__in_vocab")
        .distinct()
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.count("__in_vocab").cast("bigint").alias("n_types_covered"),
        )
    )
    return (
        occ.join(types, group_col)
        .select(
            group_col,
            "n_tokens",
            "n_covered",
            (
                (F.col("n_tokens") - F.col("n_covered")).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("oov_rate"),
            "n_types",
            "n_types_covered",
            (
                F.col("n_types_covered").cast("double")
                / F.col("n_types").cast("double")
            ).alias("type_coverage"),
        )
    )


def _ws_tokens_factory(text_col: str, lowercase: bool):
    """Nullary column factory for the whitespace token array shared by
    the bigram-model operators (split on ``\\s+``, drop empties,
    optional lowercase)."""

    def toks():
        t = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
        return F.transform(t, F.lower) if lowercase else t

    return toks


def _bigram_pairs(tok_arr):
    """Adjacent-pair struct array over a token column NAMED ``__toks``.
    Spark's ``sequence(1, 0)`` counts DOWN — guard short docs
    explicitly instead of relying on an empty sequence."""
    pairs = F.expr(
        "transform(sequence(1, size(__toks) - 1),"
        " i -> struct(__toks[i-1] AS p, __toks[i] AS c))"
    )
    return F.when(F.size(tok_arr) >= 2, pairs).otherwise(
        F.expr("array()").cast("array<struct<p:string,c:string>>")
    )


def bigram_cross_entropy_score(
    df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    ln_scale: int = 6,
) -> DataFrame:
    """Per-document BIGRAM cross-entropy under a reference corpus's
    conditional token model (nats/transition) — the order-sensitive
    upgrade of :func:`cross_entropy_score`: a bag of common words in
    scrambled order scores like the reference under a unigram model
    but blows up under ``p(t | prev)``, so this is the signal that
    separates fluent text from keyword-stuffed or shuffled junk
    (the CCNet/KenLM idea at bigram order).

    Model: Laplace-smoothed conditionals
    ``p(t | prev) = (c2(prev, t) + 1) / (c1(prev) + V + 1)`` with
    ``c1(prev) = Σ_t c2(prev, t)`` (left-context occurrences) and
    ``V`` the reference unigram type count — an unseen context backs
    off to the uniform floor ``1/(V+1)``. Output:
    ``(id, n_bigrams, cross_entropy)`` over a document's token
    TRANSITIONS; documents with fewer than two tokens emit no row.

    Portability: the x96 fixed-point pattern — each transition
    contributes ``round(ln p, ln_scale)`` quantized to BIGINT, per-doc
    sums are exact integers, one divide chain at the end.

    Scale: the reference side is one bigram-keyed aggregation (+ its
    prev-keyed rollup and a 1-row V scalar); the corpus side is a
    bigram explode + two token-keyed equi-joins (AQE broadcasts small
    reference models) + one per-doc integer sum.
    """
    if not 0 < ln_scale <= 9:
        raise ValueError("ln_scale must be in (0, 9]")
    q = 10**ln_scale
    toks = _ws_tokens_factory(text_col, lowercase)
    bigrams = _bigram_pairs

    ref_tok = ref_df.filter(F.col(text_col).isNotNull()).select(
        toks().alias("__toks")
    )
    c2 = (
        ref_tok.select(F.explode(bigrams(F.col("__toks"))).alias("__bg"))
        .select(F.col("__bg.p").alias("__p"), F.col("__bg.c").alias("__c"))
        .groupBy("__p", "__c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c2"))
    )
    c1 = c2.groupBy("__p").agg(
        F.sum("__c2").cast("bigint").alias("__c1")
    )
    vref = (
        ref_tok.select(F.explode("__toks").alias("__t"))
        .agg(F.count_distinct(F.col("__t")).cast("bigint").alias("__v"))
    )
    doc_bg = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks().alias("__toks"))
        .select(
            F.col(id_col), F.explode(bigrams(F.col("__toks"))).alias("__bg")
        )
        .select(
            F.col(id_col),
            F.col("__bg.p").alias("__p"),
            F.col("__bg.c").alias("__c"),
        )
    )
    p = (
        (F.coalesce(F.col("__c2"), F.lit(0)) + F.lit(1)).cast("double")
        / (
            F.coalesce(F.col("__c1"), F.lit(0)) + F.col("__v") + F.lit(1)
        ).cast("double")
    )
    contrib = F.round(F.round(F.log(p), ln_scale) * F.lit(float(q))).cast(
        "bigint"
    )
    scored = (
        doc_bg.join(c2, ["__p", "__c"], "left")
        .join(c1, "__p", "left")
        .crossJoin(F.broadcast(vref))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(contrib).cast("bigint").alias("__lsum"),
        )
    )
    return scored.select(
        id_col,
        "n_bigrams",
        (
            (F.lit(0.0) - F.col("__lsum").cast("double") / F.lit(float(q)))
            / F.col("n_bigrams").cast("double")
        ).alias("bigram_cross_entropy"),
    )


def kn_bigram_perplexity_score(
    df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    ln_scale: int = 6,
) -> DataFrame:
    """Per-document bigram PERPLEXITY under an interpolated Kneser-Ney
    model estimated on a reference corpus (Kneser & Ney 1995; Chen &
    Goodman 1999 §2.7) — the proper-smoothing upgrade of
    :func:`bigram_cross_entropy_score`'s Laplace conditional and the
    final piece of the CCNet-style scorer family (x35/x96/x108/x112):
    KN's continuation counts stop high-frequency-but-context-bound
    words ("Francisco") from inflating backoff mass, so boilerplate
    and template text score farther from fluent prose than under
    Laplace.

    Model, with all counts from the reference side: bigram counts
    ``c2(p,c)``; context totals ``c1(p) = Σ_c c2``; distinct-neighbor
    counts ``N1+(p·)`` (followers) and ``N1+(·c)`` (preceders);
    ``T`` = |bigram types|; absolute discount ``D = n1/(n1+2·n2)``
    (Ney-Essen-Kneser estimate from bigram types seen once/twice).
    The continuation distribution gets one Laplace floor so OOV
    tokens keep nonzero mass — exactly one reserved unk bucket:
    ``P_cont(c) = (N1+(·c)+1) / (T+V+1)`` with ``V`` the reference
    unigram type count (sums to 1 over vocab ∪ {unk}). Then

    - seen context: ``P(c|p) = max(c2-D,0)/c1 + (D·N1+(p·)/c1)·P_cont(c)``
    - unseen context (incl. OOV prev): ``P(c|p) = P_cont(c)``

    Output ``(id, n_bigrams, kn_cross_entropy, kn_perplexity)`` over a
    document's token transitions (nats; perplexity = exp(H) rounded to
    6); documents with fewer than two tokens emit no row.

    Portability: the x96 fixed-point contract — each transition
    contributes ``round(ln P, ln_scale)`` quantized to BIGINT, per-doc
    sums are exact integers, one divide chain at the end; every input
    to the double expression is an exact integer ratio so Spark and
    DuckDB reproduce it bit-identically.

    Scale: the reference model is three bigram-type-keyed aggs + a
    1-row scalar (T, n1, n2, V, D) that broadcasts; the corpus side is
    one bigram explode, one (p,c) equi-join, two p/c-keyed equi-joins
    (AQE broadcasts the small model tables), one per-doc integer sum.
    No collect, no all-pairs; model tables are vocab-sized, not
    corpus-sized.
    """
    if not 0 < ln_scale <= 9:
        raise ValueError("ln_scale must be in (0, 9]")
    q = 10**ln_scale
    toks = _ws_tokens_factory(text_col, lowercase)
    bigrams = _bigram_pairs

    ref_tok = ref_df.filter(F.col(text_col).isNotNull()).select(
        toks().alias("__toks")
    )
    c2 = (
        ref_tok.select(F.explode(bigrams(F.col("__toks"))).alias("__bg"))
        .select(F.col("__bg.p").alias("__p"), F.col("__bg.c").alias("__c"))
        .groupBy("__p", "__c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c2"))
    )
    ctx = c2.groupBy("__p").agg(
        F.sum("__c2").cast("bigint").alias("__c1"),
        F.count(F.lit(1)).cast("bigint").alias("__fol"),
    )
    prec = c2.groupBy("__c").agg(
        F.count(F.lit(1)).cast("bigint").alias("__prec")
    )
    scalars = c2.agg(
        F.count(F.lit(1)).cast("bigint").alias("__types"),
        F.sum((F.col("__c2") == 1).cast("int")).cast("bigint").alias("__n1"),
        F.sum((F.col("__c2") == 2).cast("int")).cast("bigint").alias("__n2"),
    ).crossJoin(
        F.broadcast(
            ref_tok.select(F.explode("__toks").alias("__t")).agg(
                F.count_distinct(F.col("__t")).cast("bigint").alias("__v")
            )
        )
    )
    doc_bg = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks().alias("__toks"))
        .select(
            F.col(id_col), F.explode(bigrams(F.col("__toks"))).alias("__bg")
        )
        .select(
            F.col(id_col),
            F.col("__bg.p").alias("__p"),
            F.col("__bg.c").alias("__c"),
        )
    )
    disc = F.when(
        (F.col("__n1") + 2 * F.col("__n2")) > 0,
        F.col("__n1").cast("double")
        / (F.col("__n1") + 2 * F.col("__n2")).cast("double"),
    ).otherwise(F.lit(0.0))
    pcont = (F.coalesce(F.col("__prec"), F.lit(0)) + F.lit(1)).cast(
        "double"
    ) / (F.col("__types") + F.col("__v") + F.lit(1)).cast("double")
    p_seen = (
        F.greatest(
            F.coalesce(F.col("__c2"), F.lit(0)).cast("double") - disc,
            F.lit(0.0),
        )
        / F.col("__c1").cast("double")
    ) + (
        (disc * F.col("__fol").cast("double") / F.col("__c1").cast("double"))
        * pcont
    )
    p = F.when(F.col("__c1").isNotNull(), p_seen).otherwise(pcont)
    contrib = F.round(F.round(F.log(p), ln_scale) * F.lit(float(q))).cast(
        "bigint"
    )
    scored = (
        doc_bg.join(c2, ["__p", "__c"], "left")
        .join(ctx, "__p", "left")
        .join(prec, "__c", "left")
        .crossJoin(F.broadcast(scalars))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(contrib).cast("bigint").alias("__lsum"),
        )
    )
    ce = (
        F.lit(0.0) - F.col("__lsum").cast("double") / F.lit(float(q))
    ) / F.col("n_bigrams").cast("double")
    return scored.select(
        id_col,
        "n_bigrams",
        ce.alias("kn_cross_entropy"),
        F.round(F.exp(ce), 6).alias("kn_perplexity"),
    )


def _window_pairs(tok_arr, window: int):
    """Forward-only (w1 precedes w2, gap <= window) struct-pair array
    over a token column NAMED ``__toks`` — ``window=1`` reproduces
    :func:`_bigram_pairs` exactly. Short docs guarded explicitly
    (Spark's ``sequence(1, 0)`` counts DOWN)."""
    pairs = F.expr(
        "flatten(transform(sequence(1, size(__toks) - 1),"
        " i -> transform("
        f"sequence(i + 1, least(i + {int(window)}, size(__toks))),"
        " j -> struct(__toks[i-1] AS p, __toks[j-1] AS c))))"
    )
    return F.when(F.size(tok_arr) >= 2, pairs).otherwise(
        F.expr("array()").cast("array<struct<p:string,c:string>>")
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
    lowercase: bool = True,
    ln_scale: int = 6,
    window: int = 1,
) -> DataFrame:
    """Top-N collocations (adjacent word pairs) by pointwise mutual
    information (Church & Hanks 1990, "Word Association Norms, Mutual
    Information, and Lexicography") — the corpus-analytics signal for
    multiword expressions, boilerplate phrases, and tokenizer-merge
    candidates: ``pmi = ln( p(w1,w2) / (p(w1) p(w2)) )`` estimated as
    ``ln( (c2 · T · T) / (B · c1(w1) · c1(w2)) )`` with c2 the pair
    count over B transitions and c1 the unigram counts over T tokens.
    A ``min_count`` floor drops the low-frequency pairs whose PMI is
    pure noise (PMI's known bias toward hapax pairs). ``window`` widens
    the pair definition from adjacent (``window=1``, the default and
    the classic collocation table) to forward skip-grams within
    ``window`` positions — the word2vec-style co-occurrence regime
    where ``B`` becomes the total in-window pair count and topical
    association (not just phrasehood) surfaces.

    Output: ``(w1, w2, pair_count, pmi)``, ordered pmi DESC with a
    (w1, w2) tiebreak, limited to ``top_n``.

    Portability: pmi is ``round(ln(ratio-of-exact-integers), ln_scale)``
    with the double products written left-associated identically on
    both engines — deterministic without any float accumulation.

    Scale: two token-keyed aggregations (pair + unigram counts), the
    ``min_count`` filter applied BEFORE the unigram joins so only
    surviving pairs shuffle, two 1-row total scalars riding a broadcast
    crossJoin, and a TakeOrdered top-N — never a global sort.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    if not 0 < ln_scale <= 9:
        raise ValueError("ln_scale must be in (0, 9]")
    if window < 1:
        raise ValueError("window must be >= 1")
    toks = _ws_tokens_factory(text_col, lowercase)

    tok_arrays = df.filter(F.col(text_col).isNotNull()).select(
        toks().alias("__toks")
    )
    unigrams = (
        tok_arrays.select(F.explode("__toks").alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c1"))
    )
    pairs = (
        tok_arrays.select(
            F.explode(
                _window_pairs(F.col("__toks"), window)
            ).alias("__bg")
        )
        .select(F.col("__bg.p").alias("w1"), F.col("__bg.c").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
        .filter(F.col("pair_count") >= F.lit(int(min_count)))
    )
    m_expr = (
        f"least({int(window)}, greatest(size(__toks) - 1, 0))"
    )
    totals = unigrams.agg(
        F.sum("__c1").cast("bigint").alias("__tot_tokens")
    ).crossJoin(
        F.broadcast(
            tok_arrays.select(
                # per-doc in-window pair count: sum_{k=1..m}(n - k)
                # = m*n - m*(m+1)/2 with m = min(window, n-1) — exact
                # integer arithmetic (DIV), no per-doc array rebuild
                F.expr(
                    f"{m_expr} * size(__toks)"
                    f" - ({m_expr} * ({m_expr} + 1)) DIV 2"
                ).alias("__nb")
            ).agg(F.sum("__nb").cast("bigint").alias("__tot_bigrams"))
        )
    )
    pmi = F.round(
        F.log(
            (
                F.col("pair_count").cast("double")
                * F.col("__tot_tokens").cast("double")
                * F.col("__tot_tokens").cast("double")
            )
            / (
                F.col("__tot_bigrams").cast("double")
                * F.col("__u1").cast("double")
                * F.col("__u2").cast("double")
            )
        ),
        ln_scale,
    )
    return (
        pairs.join(
            unigrams.select(
                F.col("__t").alias("w1"), F.col("__c1").alias("__u1")
            ),
            "w1",
        )
        .join(
            unigrams.select(
                F.col("__t").alias("w2"), F.col("__c1").alias("__u2")
            ),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "pair_count", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(int(top_n))
    )


def ccnet_buckets(
    df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    labels: tuple = ("head", "middle", "tail"),
    lowercase: bool = True,
    ln_scale: int = 6,
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): score every
    document's unigram cross-entropy against a REFERENCE (target-
    domain) corpus, then split each ``group_col`` slice into equal
    quantile buckets of the score — ``head`` (reads most like the
    reference), ``middle``, ``tail`` (most out-of-distribution). The
    per-language head/middle/tail split is the canonical crawl-
    curation knob: train on head+middle, drop or down-weight tail.

    Bucketing uses ``percent_rank`` over the deterministic total order
    ``(cross_entropy, id)`` within each group: bucket ``i`` is
    ``pr · k < i+1`` — engine-portable because the rank fractions are
    exact ``(rank-1)/(n-1)`` doubles over an identical order (no
    ntile row-numbering ambiguity, no quantile interpolation).

    Output: ``(id, group, n_tokens, cross_entropy, bucket)``.

    Scale: the scoring pass is x96's shape (vocab-keyed agg + token
    equi-join + per-doc integer sums); bucketing adds ONE window
    partitioned by the group — no global sort, no unpartitioned spec.
    """
    if len(labels) < 2:
        raise ValueError("labels must name at least 2 buckets")
    from pyspark.sql import Window

    scored = cross_entropy_score(
        df, ref_df, text_col=text_col, id_col=id_col,
        lowercase=lowercase, ln_scale=ln_scale,
    )
    groups = df.select(F.col(id_col), F.col(group_col))
    w = Window.partitionBy(group_col).orderBy(
        F.col("cross_entropy").asc(), F.col(id_col).asc()
    )
    k = len(labels)
    prk = F.percent_rank().over(w) * F.lit(float(k))
    bucket = F.lit(labels[-1])
    for i in range(k - 1, 0, -1):
        bucket = F.when(prk < F.lit(float(i)), F.lit(labels[i - 1])).otherwise(
            bucket
        )
    return scored.join(groups, id_col).select(
        id_col, group_col, "n_tokens", "cross_entropy",
        bucket.alias("bucket"),
    )


def tokenizer_fertility(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Per-group tokenizer fertility / compression report — the
    "how efficiently does the tokenizer encode each language" table
    that drives multilingual mix decisions (a high-fertility language
    pays more tokens per word, so a token-budgeted mix under-samples
    its CONTENT even at equal token counts; cf. the fertility metric
    in multilingual tokenizer studies, e.g. Rust et al. 2021).

    Counts words (whitespace tokens), BPE-style pre-tokens
    (:func:`bpe_token_count` — the budgeting unit), and characters,
    then derives:

    - ``fertility`` = tokens / words (subword splits per word),
    - ``chars_per_token`` = chars / tokens (compression),
    - ``tokens_per_doc`` = tokens / docs.

    All ratios are 6-decimal rounds of exact-integer divides —
    engine-portable. Scale: one narrow JVM map (regex counts, no
    explode, no UDF) + one group-keyed aggregation with map-side
    partials; output is |groups| rows.
    """
    counts = df.filter(F.col(text_col).isNotNull()).select(
        F.col(group_col),
        token_count(text_col).alias("__w"),
        bpe_token_count(text_col).alias("__t"),
        char_count(text_col).alias("__c"),
    )
    agg = counts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum("__w").cast("bigint").alias("words"),
        F.sum("__t").cast("bigint").alias("tokens"),
        F.sum("__c").cast("bigint").alias("chars"),
    )

    def ratio(num, den):
        return F.when(
            F.col(den) > 0,
            F.round(F.col(num).cast("double") / F.col(den).cast("double"), 6),
        ).otherwise(F.lit(0.0))

    return agg.select(
        group_col,
        "docs",
        "words",
        "tokens",
        "chars",
        ratio("tokens", "words").alias("fertility"),
        ratio("chars", "tokens").alias("chars_per_token"),
        ratio("tokens", "docs").alias("tokens_per_doc"),
    )


def lang_id_margin(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document language-ID confidence report — the code-switching
    / mixed-language detector layered on :func:`lang_id`'s stopword-
    marker voting: ``predicted`` (same tie-break as lang_id), the top
    and runner-up marker-hit scores, their ``margin`` (a margin of 0
    with hits means an exact cross-language tie), ``n_langs_hit`` and
    a 0/1 ``mixed`` flag (markers from >= 2 languages present) — docs
    a single-label router would mis-file and a multilingual mix wants
    either split or routed to an 'und' bucket.

    All outputs are exact integers / strings from the same padded
    whole-token ``contains`` hits as lang_id — engine-portable with no
    float anywhere. Scale: a pure per-row JVM expression map (no
    explode, no shuffle, no UDF); the report keeps corpus cardinality.
    """
    scores = {
        code: _marker_hits(text_col, ws).cast("int")
        for code, ws in LANG_MARKERS.items()
    }
    n = len(scores)
    arr = F.array_sort(F.array(*scores.values()))  # ascending
    top = F.element_at(arr, n)
    second = F.element_at(arr, n - 1)
    n_hit = None
    for s in scores.values():
        term = F.when(s > 0, 1).otherwise(0)
        n_hit = term if n_hit is None else n_hit + term
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        lang_id(text_col).alias("predicted"),
        top.cast("bigint").alias("top_hits"),
        second.cast("bigint").alias("second_hits"),
        (top - second).cast("bigint").alias("margin"),
        n_hit.cast("bigint").alias("n_langs_hit"),
        F.when(n_hit >= 2, 1).otherwise(0).cast("bigint").alias("mixed"),
    )


def packing_efficiency_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    context_len: int = 4096,
    partition_col: "str | None" = None,
) -> DataFrame:
    """Packing-efficiency report over
    :func:`pack_training_sequences`'s layout — the cost accounting for
    chop-packing a corpus into fixed ``context_len`` sequences, per
    ``partition_col`` slice (or one global row):

    - ``n_docs`` / ``n_tokens`` / ``n_sequences``;
    - ``fill_rate`` = tokens / (sequences × context) — below 1.0 only
      via the final partial sequence, so a low value means the slice
      is too small for its context length;
    - ``split_docs`` / ``split_rate`` — documents fragmented across a
      sequence boundary (the attention-contamination cost of
      chop-packing; cf. the packing discussions in GPT-3 / T5
      appendices), and ``max_doc_span`` — the worst fragmentation
      (sequences one document straddles);
    - ``avg_slices_per_seq`` — how many document slices share a
      sequence (cross-doc attention exposure).

    All integer arithmetic + two 6-decimal exact-ratio rounds.

    Scale: inherits the packing contract — pass ``partition_col`` so
    the cumulative window partitions; the report adds one per-doc and
    one per-slice aggregation over the (doc, sequence) overlap rows,
    both keyed, both map-side-partial.
    """
    placed = pack_training_sequences(
        df,
        text_col=text_col,
        id_col=id_col,
        context_len=context_len,
        partition_col=partition_col,
    )
    g = partition_col or "__g"
    base = placed if partition_col else placed.withColumn("__g", F.lit(0))
    per_doc = base.groupBy(g, id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__spans"),
        F.sum("doc_slice_len").cast("bigint").alias("__tok"),
    )
    doc_roll = per_doc.groupBy(g).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__tok").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("__spans") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("split_docs"),
        F.max("__spans").cast("bigint").alias("max_doc_span"),
    )
    seq_roll = (
        base.groupBy(g, "seq_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__slices"))
        .groupBy(g)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sequences"),
            F.sum("__slices").cast("bigint").alias("__total_slices"),
        )
    )
    out = doc_roll.join(seq_roll, g).select(
        F.col(g),
        "n_docs",
        "n_tokens",
        "n_sequences",
        F.round(
            F.col("n_tokens").cast("double")
            / (F.col("n_sequences").cast("double") * F.lit(float(context_len))),
            6,
        ).alias("fill_rate"),
        "split_docs",
        F.round(
            F.col("split_docs").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("split_rate"),
        "max_doc_span",
        F.round(
            F.col("__total_slices").cast("double")
            / F.col("n_sequences").cast("double"),
            6,
        ).alias("avg_slices_per_seq"),
    )
    return out.drop("__g") if not partition_col else out


def ngram_diversity_report(
    df,
    text_col: str = "text",
    group_col: "str | None" = None,
    max_n: int = 3,
    lowercase: bool = False,
):
    """Per-slice distinct-n diversity — the repetitiveness dashboard
    from the dialogue-diversity literature (distinct-1/2/3, Li et al.
    2016) applied corpus-side: for each word-gram order ``n`` in
    ``1..max_n``,

    - ``total_ngrams`` — running n-gram tokens across the slice;
    - ``distinct_ngrams`` — unique n-grams (the slice-level type
      count);
    - ``distinct_ratio`` — types/tokens (6-decimal exact ratio): low
      distinct-2/3 means template spam or decode-loop degeneration
      even when distinct-1 looks healthy.

    Docs shorter than ``n`` tokens contribute no n-grams at that
    order; a (group, n) pair with zero grams emits no row. NULL text
    is excluded.

    Scale: tokens are split ONCE per doc; all gram orders come off
    that array in a single projection (tagged structs, flattened,
    exploded — expansion factor ~``max_n``x tokens, the honest cost
    of the metric), then an explicit two-phase aggregation: a
    (group, n, gram)-keyed count with map-side partials does the
    dedup work distributed, and the |distinct grams|-sized result
    rolls up to |groups| x ``max_n`` rows. No ``countDistinct``
    Expand, no collect.
    """
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)
    if max_n < 1:
        raise ValueError("max_n must be >= 1")
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    g = group_col or "__g"
    base = df if group_col else df.withColumn("__g", F.lit(0))
    toks = base.filter(F.col(text_col).isNotNull()).select(
        F.col(g),
        F.array_remove(F.split(text, r"\s+"), "").alias("__toks"),
    )
    per_n = []
    for n in range(1, max_n + 1):
        per_n.append(
            f"""CASE WHEN size(__toks) >= {n}
              THEN transform(sequence(1, size(__toks) - {n} + 1),
                   i -> named_struct('n', {n},
                        'gram', array_join(slice(__toks, i, {n}), ' ')))
              ELSE array(named_struct('n', {n},
                        'gram', cast(null as string)))
            END"""
        )
    grams = (
        toks.select(
            F.col(g),
            F.explode(
                F.flatten(F.expr(f"array({', '.join(per_n)})"))
            ).alias("__t"),
        )
        .filter(F.col("__t.gram").isNotNull())
        .select(F.col(g), F.col("__t.n").alias("n"), F.col("__t.gram").alias("__gram"))
    )
    per_gram = grams.groupBy(g, "n", "__gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    out = per_gram.groupBy(g, "n").agg(
        F.sum("__c").cast("bigint").alias("total_ngrams"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_ngrams"),
        F.round(
            F.count(F.lit(1)).cast("double")
            / F.sum("__c").cast("double"),
            6,
        ).alias("distinct_ratio"),
    )
    return out.drop("__g") if not group_col else out


def keyword_contexts(
    df,
    terms: "Sequence[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
    window_chars: int = 40,
    max_examples: int = 5,
):
    """Keyword-in-context concordance — deterministic example snippets
    per query term (the corpus-inspection "show me occurrences of X"
    every curation decision wants before writing a rule): per term,
    the ``max_examples`` lowest-id documents containing it, each with

    - ``pos`` — 1-based character offset of the first occurrence;
    - ``snippet`` — ``window_chars`` characters of context on each
      side of the match (clamped at the document start).

    Matching is plain case-sensitive substring (``instr``) — the same
    primitive a blocklist rule will use, so what you see here is what
    the rule will hit. Term list is compile-time literals (a handful
    of query terms, not a lexicon — use the stopword/blocklist joins
    for big lists).

    Scale: ONE scan — terms ride an inline |terms|-element explode,
    the ``instr > 0`` filter drops non-matching (doc, term) rows
    map-side, and the per-term example rank runs over matching docs
    only (partitioned by term; the rank-filter top-k pattern). Output
    <= |terms| x ``max_examples`` rows.
    """
    from pyspark.sql import DataFrame, Window

    assert isinstance(df, DataFrame)
    term_list = list(terms)
    if not term_list or max_examples < 1 or window_chars < 0:
        raise ValueError(
            "terms must be non-empty; max_examples >= 1; window_chars >= 0"
        )
    hits = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.col(text_col).alias("__t"),
            F.explode(
                F.array(*[F.lit(t) for t in term_list])
            ).alias("term"),
        )
        .withColumn("pos", F.instr(F.col("__t"), F.col("term")))
        .filter(F.col("pos") > 0)
    )
    w = Window.partitionBy("term").orderBy(id_col)
    ranked = hits.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= max_examples
    )
    start = F.greatest(F.col("pos") - window_chars, F.lit(1))
    length = F.lit(window_chars) + F.length("term") + F.lit(window_chars)
    return ranked.select(
        "term",
        F.col(id_col),
        F.col("pos").cast("bigint").alias("pos"),
        F.col("__t").substr(start, length).alias("snippet"),
    )


def bpe_merge_pairs(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """One byte-pair-encoding merge iteration: the adjacent-symbol pair
    frequency table a BPE trainer greedily merges from (Sennrich,
    Haddow & Birch 2016, "Neural Machine Translation of Rare Words with
    Subword Units", §3.2) — run over the corpus the tokenizer will be
    trained on, the head of this table IS the first merge list, and a
    pair table that diverges from the tokenizer's actual merges is the
    early-warning sign of corpus/tokenizer mismatch (see
    ``tokenizer_fertility`` for the after-the-fact check).

    Classic trainer semantics: words are whitespace tokens; each
    alphanumeric word is split into single-character symbols plus a
    ``</w>`` end-of-word marker (so merges never cross word
    boundaries); a pair occurring twice in one word counts twice; pair
    counts are weighted by word frequency. Non-alphanumeric tokens are
    excluded from the symbol stage — punctuation runs are never merge
    candidates in the word-internal scheme, and the restriction keeps
    the character split on ASCII where Java regex (UTF-16 code units)
    and RE2 (codepoints) agree.

    Output: ``(pair, pair_count, n_words)`` — the symbol pair as
    ``"left right"`` (symbols are single chars or ``</w>``, so the
    space join is unambiguous), total weighted occurrences, and the
    number of distinct vocabulary words containing the pair — ordered
    ``pair_count`` DESC with a ``pair`` tiebreak, limited to ``top_k``.

    Scale: the two-stage collapse keeps the explode VOCABULARY-sized,
    never corpus-sized — stage 1 aggregates the corpus to the
    ``(word, count)`` vocab table (keyed agg with map-side partials,
    ~10^7 rows at 100 TB), stage 2 explodes adjacent pairs over vocab
    words only (O(|vocab| × word_len) rows); the final pair agg is
    again keyed with partials, and top-k is sort+limit (TakeOrdered on
    the driver), never a global sort.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    words = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.array_remove(F.split(F.col(text_col), r"\s+"), "")
            ).alias("word")
        )
        .filter(F.col("word").rlike(r"^[A-Za-z0-9']+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__wc"))
    )
    syms = words.select(
        "word",
        "__wc",
        F.expr(
            "concat(filter(split(word, ''), c -> c != ''), array('</w>'))"
        ).alias("__s"),
    )
    pairs = syms.select(
        "word",
        "__wc",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__s) - 1),"
                " i -> concat(element_at(__s, i), ' ', element_at(__s, i + 1)))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("__wc").cast("bigint").alias("pair_count"),
            F.countDistinct("word").cast("bigint").alias("n_words"),
        )
        .orderBy(F.desc("pair_count"), "pair")
        .limit(int(top_k))
    )


def _bpe_apply_merge(sym_arr, left, right):
    """Greedy leftmost-first application of ONE merge (left, right) to a
    symbol array — the fold both the trainer (x195) and the encoder
    (x196) ride. ``F.get`` (not element_at) probes the accumulator tail
    so the empty-acc case is NULL under ANSI instead of an index error;
    a NULL pair (dry training round) is the identity."""
    merged_sym = F.concat(left, right)
    return F.aggregate(
        sym_arr,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            left.isNotNull()
            & (F.size(acc) > 0)
            & (F.get(acc, F.size(acc) - 1) == left)
            & (s == right),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged_sym)
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    checkpoint: bool = True,
) -> DataFrame:
    """Bounded iterative BPE TRAINER (Sennrich, Haddow & Birch 2016,
    §3.2, algorithm 1): run ``n_merges`` greedy merge rounds and return
    the learned merge list — the tokenizer artifact itself, completing
    the tokenization story :func:`bpe_merge_pairs` (x143) starts: x143
    prices ONE round's pair table; this trains the actual merge
    sequence, each round re-counting pairs over the vocabulary with all
    previous merges applied.

    Word/symbol conventions are exactly x143's (whitespace words,
    alphanumeric-or-apostrophe filter, single-char symbols + ``</w>``
    end-of-word marker, pair counts weighted by word frequency).
    Each round picks the (count DESC, left ASC, right ASC) argmax pair
    and applies it greedily left-to-right within every word (one merge
    type per round, overlapping runs resolve leftmost-first — "aaaa"
    under (a,a) becomes [aa, aa]). Rounds after the pair table empties
    emit nothing.

    Output: one row per executed merge — ``(merge_round, pair_left,
    pair_right, merged, pair_count)``, ordered by round. Deterministic:
    exact integer counts, total-ordered argmax, order-free fold.

    Scale: the corpus collapses ONCE to the ``(word, count)`` vocab
    table (keyed agg, map-side partials — ~10^7 rows at 100 TB);
    every round's work is then vocabulary-sized: one adjacent-pair
    explode + keyed agg, a 1-row total-order argmax, and the merge
    application as a broadcast 1-row crossJoin + in-row fold — NO
    corpus rescan, no collect (the winning pair never touches the
    driver). Per-round eager ``localCheckpoint`` truncates the
    iterative lineage (the x20/x161 graph-loop pattern) at the cost of
    one executor-side materialization job per round, whose rows stay
    on the executors; ``checkpoint=False`` keeps the full lazy plan
    for plan-shape tests, and building it runs no Spark job. Rounds are
    inherently sequential (each argmax depends on the previous merge),
    which is the algorithm, not the plan.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")

    def _cp(frame):
        # per-round lineage truncation; checkpoint=False keeps the full
        # lazy plan so tests can pin the per-round shape (keyed aggs +
        # broadcast 1-row merge application, nothing else)
        return frame.localCheckpoint(eager=True) if checkpoint else frame

    words = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.array_remove(F.split(F.col(text_col), r"\s+"), "")
            ).alias("word")
        )
        .filter(F.col("word").rlike(r"^[A-Za-z0-9']+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__wc"))
    )
    toks = words.select(
        "__wc",
        F.expr(
            "concat(filter(split(word, ''), c -> c != ''), array('</w>'))"
        ).alias("__s"),
    )
    toks = _cp(toks)

    merge_tables = []
    for rnd in range(1, int(n_merges) + 1):
        pairs = (
            toks.filter(F.size("__s") >= 2)
            .select(
                "__wc",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(__s) - 1), i -> "
                        "named_struct('l', element_at(__s, i), "
                        "'r', element_at(__s, i + 1)))"
                    )
                ).alias("__p"),
            )
            .groupBy(
                F.col("__p.l").alias("__l"), F.col("__p.r").alias("__r")
            )
            .agg(F.sum("__wc").cast("bigint").alias("__c"))
        )
        # total-order argmax as a 1-row agg (never empty: NULL fields
        # when the pair table is dry) — min over (-count, l, r)
        best = (
            pairs.agg(
                F.min(
                    F.struct(
                        (-F.col("__c")).alias("negc"),
                        F.col("__l").alias("l"),
                        F.col("__r").alias("r"),
                    )
                ).alias("__b")
            )
            .select(
                F.col("__b.l").alias("__l"),
                F.col("__b.r").alias("__r"),
                (-F.col("__b.negc")).cast("bigint").alias("__c"),
            )
        )
        best = _cp(best)
        merge_tables.append(
            best.select(
                F.lit(rnd).cast("int").alias("merge_round"),
                F.col("__l").alias("pair_left"),
                F.col("__r").alias("pair_right"),
                F.concat("__l", "__r").alias("merged"),
                F.col("__c").alias("pair_count"),
            )
        )
        # apply the merge greedily left-to-right in every word
        fold = _bpe_apply_merge(
            F.col("__s"), F.col("__l"), F.col("__r")
        )
        toks = _cp(
            toks.crossJoin(F.broadcast(best)).select(
                "__wc", fold.alias("__s")
            )
        )

    out = merge_tables[0]
    for t in merge_tables[1:]:
        out = out.unionByName(t)
    return out.filter(F.col("pair_left").isNotNull()).orderBy(
        "merge_round"
    )


def bpe_encode_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 8,
) -> DataFrame:
    """Per-document BPE tokenization statistics under a tokenizer
    TRAINED ON THIS CORPUS — the encode side of the x195 trainer,
    closing the loop: train ``n_merges`` merges
    (:func:`bpe_train_merges`), apply them in training order to every
    vocabulary word (standard BPE encoding, Sennrich 2016 §3.2), and
    report what the corpus costs in subword tokens::

        (id, n_words, n_bpe_tokens, fertility)

    where ``n_words`` counts whitespace tokens, each alphanumeric word
    contributes its encoded symbol count (a trailing UNMERGED ``</w>``
    marker attaches to the preceding token, so "xy" encoding to
    [x, y, </w>] costs 2 tokens while a fully-merged [xy</w>] costs 1),
    non-alphanumeric words pass through as 1 token each (they are
    outside the word-internal merge scheme, as in x143), and
    ``fertility = n_bpe_tokens / n_words`` (rounded 6) — the
    corpus-specific twin of x119's fixed-tokenizer fertility. Documents
    with no whitespace tokens (null/empty text) emit no row.

    Scale: training is x195 (one corpus collapse + vocab-sized rounds);
    encoding touches each DISTINCT word once (the merge list rides ONE
    broadcast row, the application is a nested in-row fold — outer over
    the ≤ n_merges merges, inner the shared greedy fold); the per-doc
    report is one explode + an equi-join on word + one keyed agg. No
    collect; the merge table never touches the driver.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    merges = bpe_train_merges(df, text_col, n_merges)
    packed = merges.agg(
        F.array_sort(
            F.collect_list(
                F.struct("merge_round", "pair_left", "pair_right")
            )
        ).alias("__m")
    )
    words = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.array_remove(F.split(F.col(text_col), r"\s+"), "")
            ).alias("word")
        )
        .filter(F.col("word").rlike(r"^[A-Za-z0-9']+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("__drop"))
        .select(
            "word",
            F.expr(
                "concat(filter(split(word, ''), c -> c != ''),"
                " array('</w>'))"
            ).alias("__s"),
        )
    )
    encoded = words.crossJoin(F.broadcast(packed)).select(
        "word",
        F.aggregate(
            F.col("__m"),
            F.col("__s"),
            lambda acc, m: _bpe_apply_merge(
                acc, m["pair_left"], m["pair_right"]
            ),
        ).alias("__e"),
    )
    counts = encoded.select(
        "word",
        (
            F.size("__e")
            - F.when(
                F.get(F.col("__e"), F.size("__e") - 1) == "</w>", 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("__n"),
    )
    doc_words = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(
            F.array_remove(F.split(F.col(text_col), r"\s+"), "")
        ).alias("word"),
    )
    out = (
        doc_words.join(counts, "word", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.coalesce(F.col("__n"), F.lit(1)))
            .cast("bigint")
            .alias("n_bpe_tokens"),
        )
    )
    return out.select(
        F.col(id_col),
        "n_words",
        "n_bpe_tokens",
        F.round(
            F.col("n_bpe_tokens").cast("double")
            / F.col("n_words").cast("double"),
            6,
        ).alias("fertility"),
    ).orderBy(id_col)


def kneser_ney_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
    lowercase: bool = True,
) -> DataFrame:
    """Kneser-Ney continuation-count table — the sufficient statistics
    an interpolated-KN bigram model is estimated from (Kneser & Ney
    1995; Chen & Goodman 1999 §2.7): per word, the raw unigram count,
    ``n_preceders`` = N1+(·w) (distinct left neighbors — the KN
    unigram numerator: "how many contexts has this word completed",
    which ranks "Francisco" far below raw frequency suggests),
    ``n_followers`` = N1+(w·) (the per-context backoff normalizer),
    and ``kn_unigram_prob`` = N1+(·w) / |distinct bigram types|. The
    global absolute discount ``D = n1/(n1+2·n2)`` (bigram types seen
    once/twice) rides along as a column. The corpus-statistics pass
    behind perplexity-proxy scorers (x35/x96/x108) and the smoothing
    table an n-gram LM data pipeline materializes per corpus release.

    Output ordered ``count`` DESC with a ``word`` tiebreak, ``top_k``
    rows; ratios are exact-integer divisions rounded to 6 decimals.

    Scale: everything aggregates on token/bigram-type keys with
    map-side partials — corpus size enters only the first two keyed
    aggs; continuation counts run on the |bigram types| table (each
    (p,c) row is unique, so N1+ counts are plain COUNT(*) group-bys),
    the two scalar totals broadcast, and top-k is TakeOrdered.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    toks = _ws_tokens_factory(text_col, lowercase)
    tok_arrays = df.filter(F.col(text_col).isNotNull()).select(
        toks().alias("__toks")
    )
    unigrams = (
        tok_arrays.select(F.explode("__toks").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("count"))
    )
    pair_counts = (
        tok_arrays.select(
            F.explode(_bigram_pairs(F.col("__toks"))).alias("__bg")
        )
        .select(F.col("__bg.p").alias("__p"), F.col("__bg.c").alias("__c"))
        .groupBy("__p", "__c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    preceders = pair_counts.groupBy("__c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_preceders")
    )
    followers = pair_counts.groupBy("__p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_followers")
    )
    totals = pair_counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("__types"),
        F.sum((F.col("__n") == 1).cast("int")).cast("bigint").alias("__n1"),
        F.sum((F.col("__n") == 2).cast("int")).cast("bigint").alias("__n2"),
    )
    out = (
        unigrams.join(
            preceders, unigrams["word"] == preceders["__c"], "left"
        )
        .join(followers, unigrams["word"] == followers["__p"], "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "word",
            "count",
            F.coalesce("n_preceders", F.lit(0)).cast("bigint").alias(
                "n_preceders"
            ),
            F.coalesce("n_followers", F.lit(0)).cast("bigint").alias(
                "n_followers"
            ),
            F.when(
                F.col("__types") > 0,
                F.round(
                    F.coalesce("n_preceders", F.lit(0)).cast("double")
                    / F.col("__types").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("kn_unigram_prob"),
            F.when(
                (F.col("__n1") + 2 * F.col("__n2")) > 0,
                F.round(
                    F.col("__n1").cast("double")
                    / (F.col("__n1") + 2 * F.col("__n2")).cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("discount"),
        )
        .orderBy(F.desc("count"), "word")
        .limit(int(top_k))
    )
    return out


def bm25_search(
    df: DataFrame,
    query_terms: "list[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson & Zaragoza 2009, "The
    Probabilistic Relevance Framework", §3.3; Lucene's non-negative idf
    variant) — the standard lexical search the TF-IDF family (x21/x74)
    stops short of: per document matching any query term,
    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``,
    returning the ``top_k`` (doc, matched_terms, score) rows. The
    retrieval half of corpus QA (pull the docs a term-level signal
    points at) and the lexical baseline an embedding ANN (x05/x18)
    is graded against.

    Determinism: idf is ``round(ln((2N-2df+1)/(2df+1) + 1), 6)`` — a
    log of exact-integer ratios; each per-term component is rounded to
    6 decimals; the per-doc sum folds components in CANONICAL TERM
    ORDER (collect_list → array_sort → left fold — float addition is
    order-dependent, registry rule) and rounds again. Ranking ties
    break on ``doc_id``.

    Scale: doc lengths and per-term document frequencies are keyed
    aggs with map-side partials; only QUERY-term postings (|Q| tiny)
    ever join — the full corpus contributes length/df counts, never a
    doc×vocab blowup; df and corpus stats broadcast; top-k is
    TakeOrdered.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    terms = sorted({t.lower() for t in query_terms})
    tokens = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z]+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    doclen = tokens.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__dl")
    )
    stats = doclen.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__dl").cast("bigint").alias("__total"),
    )
    q = tokens.filter(F.col("term").isin(terms))
    dfq = q.groupBy("term").agg(
        F.countDistinct(id_col).cast("bigint").alias("__df")
    )
    tf = q.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("__tf")
    )
    idf = F.round(
        F.log(
            (2 * F.col("__n") - 2 * F.col("__df") + 1).cast("double")
            / (2 * F.col("__df") + 1).cast("double")
            + F.lit(1.0)
        ),
        6,
    )
    denom = F.col("__tf").cast("double") + F.lit(float(k1)) * (
        F.lit(1.0 - float(b))
        + F.lit(float(b))
        * (
            F.col("__dl").cast("double")
            * F.col("__n").cast("double")
            / F.col("__total").cast("double")
        )
    )
    comp = F.round(
        idf
        * (F.col("__tf").cast("double") * F.lit(float(k1) + 1.0))
        / denom,
        6,
    )
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.col("term"), comp.alias("__c"))
    )
    folded = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("matched_terms"),
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("term", "__c"))
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["__c"],
            ),
            6,
        ).alias("score"),
    )
    return folded.orderBy(F.desc("score"), id_col).limit(int(top_k))


def padding_waste_report(
    df,
    text_col: str = "text",
    bucket_size: int = 64,
    max_len: int = 512,
):
    """Length-bucketed batching efficiency report — the padding-waste
    accounting that picks a bucketing scheme BEFORE a 100 TB
    tokenize-and-batch job (fixed-shape batching pads every sequence
    to its bucket ceiling; without bucketing everything pads to
    ``max_len``): per length bucket,

    - ``bucket`` / ``seq_len`` — 1-based bucket id and its ceiling
      ``bucket · bucket_size``;
    - ``n_docs`` / ``token_sum`` — docs landing in the bucket and
      their real token mass (whitespace tokens, truncated at
      ``max_len`` — the truncation loss is x117/x124's department);
    - ``padded_sum`` = ``n_docs · seq_len``, ``waste_frac`` — the
      bucket's padding overhead as a 6-decimal exact ratio;
    - ``bucketed_waste_frac`` / ``naive_waste_frac`` — the corpus-wide
      overhead under this bucketing vs padding everything to
      ``max_len`` (every row repeats the two corpus numbers so the
      table is self-contained) — the difference IS the win of length
      bucketing.

    Zero-token docs are excluded (nothing to pad). ``max_len`` must be
    a multiple of ``bucket_size`` so bucket ceilings never overshoot.

    Scale: one narrow JVM map (token count + integer ceil-divide
    bucket) + one ≤ ``max_len/bucket_size``-keyed aggregation with
    map-side partials + a 1-row totals broadcast. All integers until
    the final divides.
    """
    if bucket_size < 1:
        raise ValueError("bucket_size must be >= 1")
    if max_len < 1 or max_len % bucket_size != 0:
        raise ValueError("max_len must be a positive multiple of bucket_size")
    n_raw = token_count(text_col)
    n = F.least(n_raw.cast("bigint"), F.lit(int(max_len)).cast("bigint"))
    nb = n + F.lit(int(bucket_size) - 1)
    bucket = ((nb - F.pmod(nb, F.lit(int(bucket_size)))) / F.lit(
        int(bucket_size)
    )).cast("bigint")
    per_bucket = (
        df.filter(F.col(text_col).isNotNull())
        .select(n.alias("__n"), bucket.alias("bucket"))
        .filter(F.col("__n") >= 1)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__n").cast("bigint").alias("token_sum"),
        )
        .select(
            "bucket",
            (F.col("bucket") * F.lit(int(bucket_size)))
            .cast("bigint")
            .alias("seq_len"),
            "n_docs",
            "token_sum",
            (F.col("bucket") * F.lit(int(bucket_size)) * F.col("n_docs"))
            .cast("bigint")
            .alias("padded_sum"),
        )
    )
    totals = per_bucket.agg(
        F.sum("token_sum").cast("bigint").alias("__tok"),
        F.sum("padded_sum").cast("bigint").alias("__pad"),
        F.sum("n_docs").cast("bigint").alias("__docs"),
    )
    ratio = lambda num, den: F.round(  # noqa: E731
        num.cast("double") / den.cast("double"), 6
    )
    return per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket", "seq_len", "n_docs", "token_sum", "padded_sum",
        ratio(
            F.col("padded_sum") - F.col("token_sum"), F.col("padded_sum")
        ).alias("waste_frac"),
        ratio(F.col("__pad") - F.col("__tok"), F.col("__pad")).alias(
            "bucketed_waste_frac"
        ),
        ratio(
            F.col("__docs") * F.lit(int(max_len)) - F.col("__tok"),
            F.col("__docs") * F.lit(int(max_len)),
        ).alias("naive_waste_frac"),
    )


def good_turing_counts(
    df,
    text_col: str = "text",
    max_r: int = 10,
    ngram_order: int = 1,
    lowercase: bool = True,
):
    """Good-Turing frequency-of-frequencies table (Good 1953; the
    simple estimate of Gale & Sampson 1995 §2) over word unigrams or
    bigrams (``ngram_order`` 1 or 2 — x148's KN bigram domain): for
    each observed type count ``r ≤ max_r``,

    - ``n_terms`` — distinct types seen exactly ``r`` times
      (the N_r spectrum — the head of this table drives every
      smoothing method, and a bent spectrum flags boilerplate or
      tokenizer damage);
    - ``r_star`` — the GT-adjusted count ``(r+1)·N_{r+1}/N_r``
      (6-decimal exact ratio; NULL where ``N_{r+1}`` is empty) — the
      "how much probability mass do singletons really deserve"
      number behind KN's absolute discount (x148's D is its
      two-point collapse).

    Scale: the corpus pays ONE (type)-keyed count; the spectrum is a
    COUNT(*) group-by over the vocabulary-sized type table, the
    ``r+1`` lookup a self-join of the ≤ ``max_r+1``-row spectrum. No
    windows, no corpus-sized shuffle beyond the type count.
    """
    if max_r < 1:
        raise ValueError("max_r must be >= 1")
    if ngram_order not in (1, 2):
        raise ValueError("ngram_order must be 1 or 2")
    toks_col = _ws_tokens_factory(text_col, lowercase)
    tok_arrays = df.filter(F.col(text_col).isNotNull()).select(
        toks_col().alias("__toks")
    )
    if ngram_order == 1:
        toks = tok_arrays.select(F.explode("__toks").alias("__t"))
    else:
        toks = tok_arrays.select(
            F.explode(_bigram_pairs(F.col("__toks"))).alias("__bg")
        ).select(
            F.concat_ws(" ", F.col("__bg.p"), F.col("__bg.c")).alias("__t")
        )
    tc = toks.groupBy("__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("__r")
    )
    nr = (
        tc.filter(F.col("__r") <= int(max_r) + 1)
        .groupBy("__r")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_terms"))
    )
    cur = nr.filter(F.col("__r") <= int(max_r)).select(
        F.col("__r").alias("r"), "n_terms"
    )
    nxt = nr.select(
        (F.col("__r") - 1).alias("r"), F.col("n_terms").alias("__n_next")
    )
    return cur.join(nxt, "r", "left").select(
        "r",
        "n_terms",
        F.round(
            (F.col("r") + 1).cast("double")
            * F.col("__n_next").cast("double")
            / F.col("n_terms").cast("double"),
            6,
        ).alias("r_star"),
    )


def winnowing_candidates(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    max_df: int = 20,
    min_shared: int = 2,
) -> "DataFrame":
    """Winnowing fingerprint near-duplicate candidates (Schleimer,
    Wilkerson & Aiken, SIGMOD 2003 — the MOSS algorithm): hash every
    token ``k``-gram, slide a window of ``w`` consecutive hashes, and
    select each window's minimum (ties → RIGHTMOST, the paper's robust
    rule). The guarantee: any shared token run of length ≥ ``w+k-1``
    leaves at least one shared fingerprint, while only ~``2/(w+1)`` of
    grams are kept — a density-controlled alternative to MinHash whose
    selections are POSITIONS in the text (so matches localize).

    Output: candidate pairs ``(doc_a, doc_b, n_shared)`` — documents
    sharing ≥ ``min_shared`` distinct selected fingerprints, after
    dropping fingerprints appearing in more than ``max_df`` documents
    (boilerplate grams — the same stop-fingerprint cut MOSS applies),
    ordered by ``(n_shared DESC, doc_a, doc_b)``.

    Selection is position-free to express distributively: position i is
    a window minimum iff for the largest window end E reachable while
    ``h[i]`` stays strictly below every hash to its right
    (rightmost-tie rule), ``h[i]`` is ≤ every hash in the remaining
    left span ``[E-w+1, i-1]`` — two bounded array scans per position,
    no sequential state. Documents shorter than one full window
    (< ``w+k-1`` tokens, so fewer than ``w`` grams) contribute their
    single minimum hash. Hashes are the engine-portable 60-bit md5
    (:func:`cryoflow_spark.functions.dedup.portable_hash60`), so the
    whole pass is oracle-checkable.

    Scale: selection is a PURE per-document map over in-row arrays
    (whole-stage codegen, zero shuffle); only selected fingerprints
    (~2/(w+1) of grams) explode into the postings table; the pair join
    is an equi-join on fingerprint with the ``max_df`` cap bounding
    per-bucket fanout at max_df² — the LSH-bucket shape, never
    all-pairs.
    """
    if k < 1 or w < 2:
        raise ValueError("k must be >= 1 and w >= 2")
    if max_df < 2 or min_shared < 1:
        raise ValueError("max_df must be >= 2 and min_shared >= 1")
    from cryoflow_spark.functions.dedup import portable_hash60

    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    m = F.greatest(F.size(F.col("__t")) - (k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.col("__m")),
        lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, k)),
    )
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("__t"))
        .withColumn("__m", m)
        .filter(F.col("__m") >= 1)
        .select(
            F.col(id_col),
            F.col("__m"),
            F.transform(grams, portable_hash60).alias("__h"),
        )
    )

    h = F.col("__h")
    mm = F.col("__m")

    def _sel(x, i0):
        # 1-based position of this hash in the gram sequence
        i = i0 + 1
        right_len = F.least(F.lit(w - 1), mm - i)
        # first offset j>=1 (within w-1) where h[i+j] <= h[i]: beyond it
        # x can no longer be the strict minimum of the right span
        firstbad = F.array_min(
            F.when(
                right_len >= 1,
                F.transform(
                    F.sequence(F.lit(1), right_len),
                    lambda j: F.when(
                        F.element_at(h, (i + j).cast("int")) <= x, j
                    ),
                ),
            ).otherwise(F.array().cast("array<int>"))
        )
        e_max = i + F.coalesce(firstbad - 1, right_len)
        left_start = e_max - (w - 1)
        left_len = i - left_start
        # CASE branches evaluate lazily, so the slice (whose start must
        # be >= 1) only runs when e_max >= w makes left_start valid
        left_min = F.when(
            (e_max >= w) & (left_len >= 1),
            F.array_min(
                F.slice(h, left_start.cast("int"), left_len.cast("int"))
            ),
        )
        return (e_max >= w) & (
            left_min.isNull() | (x <= left_min)
        )

    fps = F.when(
        mm < w,
        F.array(F.array_min(h)),
    ).otherwise(
        F.array_distinct(
            F.filter(
                F.transform(h, lambda x, i0: F.when(_sel(x, i0), x)),
                lambda v: v.isNotNull(),
            )
        )
    )
    # two consumers (the df census and the kept-postings join) — lazy
    # localCheckpoint so the per-doc selection map runs ONCE, not once
    # per branch (the multi-consumer lineage rule)
    postings = base.select(
        F.col(id_col), F.explode(fps).alias("fp")
    ).distinct().localCheckpoint(eager=False)
    dfc = postings.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("__df")
    )
    # NO broadcast hint: the shared-fingerprint table scales with
    # duplicate density, not a fixed bound — equi-join and let AQE
    # promote it to broadcast when it happens to be small.
    kept = postings.join(
        dfc.filter((F.col("__df") >= 2) & (F.col("__df") <= max_df)),
        "fp",
    )
    a = kept.select(F.col("fp"), F.col(id_col).alias("doc_a"))
    b = kept.select(F.col("fp"), F.col(id_col).alias("doc_b"))
    pairs = a.join(b, "fp").filter(F.col("doc_a") < F.col("doc_b"))
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy(F.col("n_shared").desc(), "doc_a", "doc_b")
    )


def heaps_law_curve(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 10,
) -> "DataFrame":
    """Vocabulary growth curve + Heaps' law fit (Heaps 1978,
    "Information Retrieval: Computational and Theoretical Aspects";
    empirical law ``V(N) ≈ K·N^β``, β ≈ 0.4–0.6 for natural text):
    how many distinct word types the corpus has revealed after each
    ``1/n_checkpoints`` slice of its token stream — the
    is-my-corpus-still-adding-vocabulary curve that decides whether
    more crawl data buys new content or repeats (a flat tail = Zipf
    saturation; the x22 zipf_fit's integral twin).

    Corpus order is the deterministic ``(id_col, token position)``
    order. Output: one row per checkpoint ``c = 1..n_checkpoints`` —
    ``(checkpoint, tokens_seen, vocab_size, heaps_k, heaps_beta)``
    where ``tokens_seen = floor(N·c/n_checkpoints)``, ``vocab_size``
    counts types whose FIRST occurrence index ≤ tokens_seen, and
    (k, β) are the closed-form log-log least squares fit over the
    non-empty checkpoints (both rounded to 6; identical on every row).
    Degenerate fits — fewer than 2 usable checkpoints, or all usable
    checkpoints sharing one ``tokens_seen`` value — yield NULL (k, β)
    in both engines rather than engine-dependent inf/nan.

    Determinism: first-occurrence indices and checkpoint assignment
    are exact integer arithmetic (``c = (fi·C + N − 1) div N``); the
    fit's float sums fold in canonical checkpoint order.

    Scale: per-doc token offsets come from the distributed prefix-sum
    spine (:func:`cryoflow_spark.functions.ranks.multi_value_cdf` —
    distinct agg + range exchange + bounded offset stitch, NO
    single-reducer window); first occurrences are one keyed min-agg
    over the exploded tokens; everything after lives on a
    ``n_checkpoints``-row table folded through in-row arrays.
    """
    if n_checkpoints < 2:
        raise ValueError("n_checkpoints must be >= 2")
    from cryoflow_spark.functions.ranks import multi_value_cdf

    C = int(n_checkpoints)
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__doc"),
        F.array_remove(
            F.split(F.lower(F.col(text_col)), r"\s+"), ""
        ).alias("__t"),
    )
    per_doc = toks.select(
        "__doc", F.size("__t").cast("long").alias("__n")
    ).filter(F.col("__n") >= 1)
    spine = (
        multi_value_cdf(per_doc, "__doc", ["__n"])
        .join(per_doc, "__doc")
        .select(
            "__doc",
            (F.col("__n_at_or_below") - F.col("__n")).alias("__offset"),
            F.col("__n_total").alias("__N"),
        )
    )
    positions = (
        toks.select(
            "__doc", F.posexplode("__t").alias("__p0", "__g")
        )
        .join(spine, "__doc")
        .select(
            "__g",
            (F.col("__offset") + F.col("__p0") + 1).alias("__gi"),
            "__N",
        )
    )
    first_occ = positions.groupBy("__g").agg(
        F.min("__gi").alias("__fi"), F.max("__N").alias("__N")
    )
    # smallest checkpoint whose token budget floor(N*c/C) covers fi:
    # exact integer ceil-div (through DECIMAL so petabyte-scale token
    # counts never round through a double)
    new_types = first_occ.groupBy(
        F.floor(
            (F.col("__fi") * C + F.col("__N") - 1).cast("decimal(38,0)")
            / F.col("__N").cast("decimal(38,0)")
        )
        .cast("int")
        .alias("__c")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("__new"),
        F.max("__N").alias("__N"),
    )
    packed = new_types.agg(
        F.array_sort(
            F.collect_list(F.struct("__c", "__new"))
        ).alias("__arr"),
        F.max("__N").alias("__N"),
    )
    # dense checkpoint table 1..C with cumulative vocab (exact ints)
    row = F.struct(
        F.col("__cp").alias("checkpoint"),
        F.floor(
            (F.col("__N") * F.col("__cp")).cast("decimal(38,0)")
            / F.lit(C).cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("tokens_seen"),
        F.aggregate(
            F.filter(F.col("__arr"), lambda s: s["__c"] <= F.col("__cp")),
            F.lit(0).cast("bigint"),
            lambda acc, s: acc + s["__new"],
        ).alias("vocab_size"),
    )
    curve = packed.select(
        F.col("__N"),
        F.col("__arr"),
        F.explode(F.sequence(F.lit(1), F.lit(C))).alias("__cp"),
    ).select(row.alias("__r"))
    pts = curve.select(
        F.col("__r.checkpoint").alias("checkpoint"),
        F.col("__r.tokens_seen").alias("tokens_seen"),
        F.col("__r.vocab_size").alias("vocab_size"),
    )
    # closed-form log-log fit over the bounded checkpoint table:
    # canonical checkpoint-order fold of (x=ln tokens, y=ln vocab)
    fit_src = pts.filter(
        (F.col("tokens_seen") >= 1) & (F.col("vocab_size") >= 1)
    ).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "checkpoint",
                    F.log(F.col("tokens_seen").cast("double")).alias("__x"),
                    F.log(F.col("vocab_size").cast("double")).alias("__y"),
                )
            )
        ).alias("__p")
    )

    def _fsum(expr):
        return F.aggregate(
            F.col("__p"), F.lit(0.0), lambda acc, s: acc + expr(s)
        )

    # Degenerate fits (fewer than 2 usable points, or all points sharing
    # one tokens_seen value so the x-variance denominator is 0) yield
    # NULL (k, beta) rather than engine-dependent inf/nan: Spark's
    # Divide returns NULL on 0-denominator while DuckDB follows IEEE,
    # so without the guard the two engines diverge on tiny corpora.
    fit = fit_src.select(
        F.size("__p").cast("double").alias("__np"),
        _fsum(lambda s: s["__x"]).alias("__sx"),
        _fsum(lambda s: s["__y"]).alias("__sy"),
        _fsum(lambda s: s["__x"] * s["__y"]).alias("__sxy"),
        _fsum(lambda s: s["__x"] * s["__x"]).alias("__sxx"),
    ).select(
        F.col("__np"),
        F.col("__sx"),
        F.col("__sy"),
        F.col("__sxy"),
        (
            F.col("__np") * F.col("__sxx")
            - F.col("__sx") * F.col("__sx")
        ).alias("__den"),
    ).select(
        F.when(
            (F.col("__np") >= 2) & (F.col("__den") != 0),
            F.round(
                (
                    F.col("__np") * F.col("__sxy")
                    - F.col("__sx") * F.col("__sy")
                )
                / F.col("__den"),
                6,
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("heaps_beta"),
        F.when(
            (F.col("__np") >= 2) & (F.col("__den") != 0),
            F.round(
                F.exp(
                    (
                        F.col("__sy")
                        - (
                            (
                                F.col("__np") * F.col("__sxy")
                                - F.col("__sx") * F.col("__sy")
                            )
                            / F.col("__den")
                        )
                        * F.col("__sx")
                    )
                    / F.col("__np")
                ),
                6,
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("heaps_k"),
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "checkpoint",
        "tokens_seen",
        "vocab_size",
        "heaps_k",
        "heaps_beta",
    )


def ql_dirichlet_search(
    df: "DataFrame",
    query_terms: "list[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
    mu: float = 2000.0,
    top_k: int = 10,
) -> "DataFrame":
    """Query-likelihood retrieval with Dirichlet-prior smoothing (Zhai
    & Lafferty 2004, "A Study of Smoothing Methods for Language Models
    Applied to Information Retrieval", §2.1) — the LANGUAGE-MODEL
    ranking function next to x155's BM25::

        score(q, d) = Σ_{t∈q} ln( (tf_{t,d} + μ·p(t|C)) / (|d| + μ) )

    with ``p(t|C)`` the corpus unigram MLE. Unlike BM25, UNMATCHED
    query terms still contribute (the smoothing mass ``μ·p(t|C)``), so
    long documents are penalized through ``|d|+μ`` rather than a tuned
    ``b`` — the standard second opinion when BM25 and an embedding ANN
    disagree. Query terms absent from the whole corpus are dropped
    (``p(t|C)=0`` has no finite log-likelihood — Zhai & Lafferty's
    convention).

    Output: ``top_k`` rows ``(id_col, matched_terms, score)`` over
    documents matching ≥ 1 query term, score rounded to 6, ties broken
    on ``id_col``. Determinism: per-term components rounded to 6 and
    folded in canonical term order.

    Scale: doc lengths and corpus term counts are keyed aggs with
    map-side partials; only query-term postings (|Q| tiny) join; the
    candidate×|Q| completion is a broadcast of the |Q|-row term table;
    top-k is TakeOrdered — no global sort, no doc×vocab blowup.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if top_k < 1 or mu <= 0:
        raise ValueError("top_k must be >= 1 and mu > 0")
    terms = sorted({t.lower() for t in query_terms})
    tokens = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z]+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    doclen = tokens.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__dl")
    )
    total = doclen.agg(F.sum("__dl").cast("bigint").alias("__total"))
    q = tokens.filter(F.col("term").isin(terms))
    # corpus collection frequency per query term (drops absent terms)
    cf = q.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cf")
    )
    tf = q.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("__tf")
    )
    candidates = tf.select(id_col).distinct()
    full = (
        candidates.crossJoin(F.broadcast(cf.crossJoin(total)))
        .join(tf, [id_col, "term"], "left")
        .join(doclen, id_col)
        .withColumn("__tf", F.coalesce(F.col("__tf"), F.lit(0)))
    )
    comp = F.round(
        F.log(
            (
                F.col("__tf").cast("double")
                + F.lit(float(mu))
                * (
                    F.col("__cf").cast("double")
                    / F.col("__total").cast("double")
                )
            )
            / (F.col("__dl").cast("double") + F.lit(float(mu)))
        ),
        6,
    )
    scored = full.select(
        F.col(id_col),
        F.col("term"),
        (F.col("__tf") > 0).cast("long").alias("__m"),
        comp.alias("__c"),
    )
    folded = scored.groupBy(id_col).agg(
        F.sum("__m").cast("bigint").alias("matched_terms"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "__c"))),
                F.lit(0.0),
                lambda acc, s: acc + s["__c"],
            ),
            6,
        ).alias("score"),
    )
    return folded.orderBy(F.desc("score"), id_col).limit(int(top_k))


def rouge_overlap_pairs(
    df: "DataFrame",
    pairs: "DataFrame",
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """ROUGE-N overlap scores for candidate document pairs (Lin 2004,
    "ROUGE: A Package for Automatic Evaluation of Summaries", §2):
    clipped n-gram co-occurrence — ``overlap = Σ_g min(c_a(g), c_b(g))``
    over word ``n``-grams, reported as recall (vs side a), precision
    (vs side b) and F1. The standard second-stage VERIFIER behind a
    fingerprint candidate generator (x182's winnowing / MinHash LSH):
    fingerprints say "probably related", ROUGE quantifies how much of
    one document the other actually covers — near-dup grading,
    summary-vs-source containment, quote detection.

    ``pairs`` must carry ``(doc_a, doc_b)``. Output: one row per pair —
    ``(doc_a, doc_b, n_overlap, recall, precision, f1)``, floats
    rounded to 6 (0.0 when a side has no grams or nothing overlaps).
    Exact integer counts until the final per-row divides — no float
    folds, order-independent.

    Scale: documents are left-semi pruned to the candidate-pair id set
    BEFORE the n-gram explode (the candidate set is the small side at
    corpus scale — non-candidate grams are never materialized); the
    pruned counts table is computed once (multi-consumer lineage
    truncation) and the gram-level join touches only candidate-pair
    grams — bounded by the candidate generator, never corpus².
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    # the pair table feeds several consumers (id census, overlap join,
    # totals joins); truncate lineage so an expensive candidate
    # GENERATOR (winnowing, LSH) runs once, not per branch
    p = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    ids = (
        p.select(F.col("doc_a").alias("__doc"))
        .union(p.select(F.col("doc_b").alias("__doc")))
        .distinct()
    )
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    # gram-explode ONLY candidate-pair documents (left-semi prune
    # BEFORE the explode): at corpus scale the candidate set is the
    # small side, and nothing downstream needs non-candidate grams
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__doc"), toks.alias("__t"))
        .join(ids, "__doc", "leftsemi")
        .withColumn("__m", F.size("__t") - (n - 1))
        .filter(F.col("__m") >= 1)
    )
    grams = base.select(
        "__doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("__m")),
                lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, n)),
            )
        ).alias("__g"),
    )
    # three consumers (side a, side b, totals) — one candidate-bounded
    # gram explode, not three
    counts = grams.groupBy("__doc", "__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    ).localCheckpoint(eager=False)
    totals = counts.groupBy("__doc").agg(
        F.sum("__c").cast("bigint").alias("__tot")
    )
    a = counts.select(
        F.col("__doc").alias("doc_a"),
        F.col("__g"),
        F.col("__c").alias("__ca"),
    )
    b = counts.select(
        F.col("__doc").alias("doc_b"),
        F.col("__g"),
        F.col("__c").alias("__cb"),
    )
    overlap = (
        p.join(a, "doc_a")
        .join(b, ["doc_b", "__g"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.least(F.col("__ca"), F.col("__cb")))
            .cast("bigint")
            .alias("n_overlap")
        )
    )
    ta = totals.select(
        F.col("__doc").alias("doc_a"), F.col("__tot").alias("__ta")
    )
    tb = totals.select(
        F.col("__doc").alias("doc_b"), F.col("__tot").alias("__tb")
    )
    # totals joins are LEFT so a pair whose side has no grams at all
    # (doc shorter than n tokens, null text, id absent from df) still
    # emits a row with 0.0 scores — the docstring's contract — instead
    # of silently vanishing from the verifier's output
    scored = (
        p.join(overlap, ["doc_a", "doc_b"], "left")
        .withColumn("n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0)))
        .join(ta, "doc_a", "left")
        .join(tb, "doc_b", "left")
        .withColumn("__ta", F.coalesce(F.col("__ta"), F.lit(0)))
        .withColumn("__tb", F.coalesce(F.col("__tb"), F.lit(0)))
    )
    r = F.when(
        F.col("__ta") > 0,
        F.col("n_overlap").cast("double") / F.col("__ta").cast("double"),
    ).otherwise(F.lit(0.0))
    pr = F.when(
        F.col("__tb") > 0,
        F.col("n_overlap").cast("double") / F.col("__tb").cast("double"),
    ).otherwise(F.lit(0.0))
    return scored.select(
        "doc_a",
        "doc_b",
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        F.round(r, 6).alias("recall"),
        F.round(pr, 6).alias("precision"),
        F.round(
            F.when(
                F.col("n_overlap") > 0, 2.0 * r * pr / (r + pr)
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("f1"),
    )


def vocab_richness_report(
    df: "DataFrame",
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Per-group vocabulary richness: Chao1 unseen-type estimator (Chao
    1984, "Nonparametric estimation of the number of classes in a
    population"; bias-corrected form, Colwell & Coddington 1994) and
    Good-Turing sample coverage (Good 1953: ``C = 1 − F1/N``) from the
    type frequency spectrum::

        chao1    = V + F1·(F1−1) / (2·(F2+1))
        coverage = 1 − F1/N

    — the "how much vocabulary has this source NOT shown us yet"
    numbers that complete x183's Heaps curve and x177's GT spectrum: a
    source with low coverage and chao1 ≫ V still has unseen content
    worth crawling; one with coverage ≈ 1 is exhausted.

    Output: one row per non-null ``group_col`` value —
    ``(group, n_tokens, vocab, f1_types, f2_types, chao1, coverage)``,
    floats rounded to 6. Exact integer spectrum counts; two final
    per-row divides.

    Scale: one explode + (group, term) keyed agg (map-side combine),
    then a group-keyed spectrum agg — report sized by |groups|, never
    the corpus; no windows, no folds, no collects.
    """
    toks = (
        df.filter(
            F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("__grp"),
            F.explode(
                F.array_remove(
                    F.split(F.lower(F.col(text_col)), r"\s+"), ""
                )
            ).alias("__g"),
        )
    )
    types = toks.groupBy("__grp", "__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    spec = types.groupBy("__grp").agg(
        F.sum("__c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum((F.col("__c") == 1).cast("long"))
        .cast("bigint")
        .alias("f1_types"),
        F.sum((F.col("__c") == 2).cast("long"))
        .cast("bigint")
        .alias("f2_types"),
    )
    return spec.select(
        F.col("__grp").alias(group_col),
        "n_tokens",
        "vocab",
        "f1_types",
        "f2_types",
        F.round(
            F.col("vocab").cast("double")
            + (
                F.col("f1_types") * (F.col("f1_types") - 1)
            ).cast("double")
            / (2.0 * (F.col("f2_types") + 1).cast("double")),
            6,
        ).alias("chao1"),
        F.round(
            F.lit(1.0)
            - F.col("f1_types").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("coverage"),
    )


def term_burstiness(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_cf: int = 10,
    top_k: int = 20,
) -> "DataFrame":
    """Term burstiness report (Church & Gale 1995, "Poisson mixtures";
    Katz 1996, "Distribution of content words and phrases in text"):
    content words CLUMP — given one occurrence in a document, more are
    disproportionately likely — while function words spread evenly. Per
    term with collection frequency ≥ ``min_cf``::

        burstiness = cf / df              (mean count per containing doc)
        poisson_df = N·(1 − e^(−cf/N))    (docs a Poisson term would hit)
        df_ratio   = df / poisson_df      (< 1 ⇔ clumpier than Poisson)

    The top-``k`` by burstiness are the corpus's topical/content terms —
    the signal behind stopword induction (x83's inverse), keyword
    surfacing next to x74's distinctive-terms, and Katz-model document
    frequency correction for retrieval.

    Output: ``(term, cf, df, burstiness, poisson_df, df_ratio)``,
    floats rounded to 6, ordered ``(burstiness DESC, term)``, top-k via
    TakeOrdered. Scale: one explode + (doc, term) keyed agg collapsing
    duplicates map-side, then a term-keyed agg; the 1-row doc count
    broadcasts; per-term arithmetic is order-independent.
    """
    if min_cf < 1 or top_k < 1:
        raise ValueError("min_cf and top_k must be >= 1")
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__doc"),
        F.explode(
            F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
        ).alias("__g"),
    )
    per_doc = toks.groupBy("__doc", "__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    ndocs = df.filter(F.col(text_col).isNotNull()).agg(
        F.countDistinct(F.col(id_col)).cast("bigint").alias("__n")
    )
    terms = per_doc.groupBy("__g").agg(
        F.sum("__c").cast("bigint").alias("cf"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    ).filter(F.col("cf") >= min_cf)
    pdf = F.col("__n").cast("double") * (
        F.lit(1.0)
        - F.exp(-F.col("cf").cast("double") / F.col("__n").cast("double"))
    )
    return (
        terms.crossJoin(F.broadcast(ndocs))
        .select(
            F.col("__g").alias("term"),
            "cf",
            "df",
            F.round(
                F.col("cf").cast("double") / F.col("df").cast("double"), 6
            ).alias("burstiness"),
            F.round(pdf, 6).alias("poisson_df"),
            F.round(F.col("df").cast("double") / pdf, 6).alias("df_ratio"),
        )
        .orderBy(F.col("burstiness").desc(), "term")
        .limit(int(top_k))
    )


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Flesch Reading Ease and Flesch-Kincaid grade level
    (Flesch 1948 "A new readability yardstick"; Kincaid et al. 1975) —
    the classic surface-statistics readability pair, a standard
    pretraining quality signal orthogonal to the stopword/length
    heuristics (x10) and perplexity scorers (x96/x108/x201): formulaic
    or machine-generated text shows up as implausibly uniform grade
    levels, OCR junk as implausibly high syllable density.

    Counts, all exact integers: ``n_sentences`` = segments containing
    a letter after splitting on ``[.!?]+`` (floor 1 so headline-style
    docs don't divide by zero); ``n_words`` = whitespace tokens;
    ``n_syllables`` = per word, the number of ``[aeiouy]+`` vowel
    groups in lowercase, floored at 1 per word (the standard
    dictionary-free heuristic — no silent-e adjustment, stated so the
    number is reproducible). Then

    - ``flesch = 206.835 − 1.015·(W/S) − 84.6·(Y/W)``
    - ``fk_grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59``

    both rounded to 6. Docs with zero words emit no row; null text
    emits no row.

    Scale: one pure per-row regexp/array pipeline in whole-stage
    codegen — zero shuffles, zero joins; per-row double arithmetic on
    exact-integer ratios replicates bit-identically in DuckDB.
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != ""
    )
    syll = F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc
        + F.greatest(
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
            F.lit(1),
        ),
    )
    sentences = F.greatest(
        F.size(
            F.filter(
                F.split(F.col(text_col), "[.!?]+", -1),
                lambda s: s.rlike("[A-Za-z]"),
            )
        ),
        F.lit(1),
    )
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            sentences.cast("bigint").alias("n_sentences"),
            F.size(words).cast("bigint").alias("n_words"),
            syll.alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast(
        "double"
    )
    ypw = F.col("n_syllables").cast("double") / F.col("n_words").cast(
        "double"
    )
    return base.select(
        id_col,
        "n_sentences",
        "n_words",
        "n_syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * ypw, 6
        ).alias("flesch"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * ypw - F.lit(15.59), 6
        ).alias("fk_grade"),
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    window: int = 2,
    min_count: int = 2,
    damping: float = 0.85,
    n_iter: int = 5,
    top_n: int = 30,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus-level TextRank keyword extraction (Mihalcea & Tarau
    EMNLP 2004, §3.1 — "TextRank: Bringing Order into Text"): build
    the word co-occurrence graph (an undirected edge per ordered token
    pair within ``window`` positions, weighted by occurrence count,
    with a ``min_count`` noise floor) and rank words by weighted
    PageRank — keywords are words that many other well-connected words
    co-occur with, the graph-centrality upgrade of raw frequency
    (x21's TF-IDF) and of pairwise association (x109/x199's PMI):
    frequency can be gamed by repetition and PMI favors rare pairs,
    centrality requires broad, mutually-reinforcing context.

    Output: the ``top_n`` ``(word, rank)`` rows, rank descending with
    a word tiebreak; ranks from :func:`...graph.pagerank` (uniform
    start, dangling redistribution — vacuous on this symmetric graph —
    exact canonical-fold arithmetic, rounded to 9).

    Scale: the corpus collapses to the |vocab pairs|-bounded edge
    table in one explode + keyed count (the x199 shape); every
    PageRank iteration then runs on the vocabulary-sized graph — 10×
    the corpus costs one bigger count agg, the iterations cost the
    same. Top-n is TakeOrdered.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    from cryoflow_spark.functions.graph import pagerank

    toks = _ws_tokens_factory(text_col, lowercase)
    pairs = (
        df.filter(F.col(text_col).isNotNull())
        .select(toks().alias("__toks"))
        .select(
            F.explode(
                _window_pairs(F.col("__toks"), int(window))
            ).alias("__pr")
        )
        .select(
            F.col("__pr.p").alias("__w1"), F.col("__pr.c").alias("__w2")
        )
        .groupBy("__w1", "__w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("__w2").alias("__w1"),
            F.col("__w1").alias("__w2"),
            "__cnt",
        )
    )
    ranked = pagerank(
        sym,
        src_col="__w1",
        dst_col="__w2",
        weight_col="__cnt",
        damping=damping,
        n_iter=n_iter,
    )
    return (
        ranked.select(F.col("node").alias("word"), "rank")
        .orderBy(F.desc("rank"), "word")
        .limit(int(top_n))
    )


def llr_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
    lowercase: bool = True,
) -> DataFrame:
    """Adjacent-bigram collocations ranked by Dunning's log-likelihood
    ratio (Dunning 1993, "Accurate methods for the statistics of
    surprise and coincidence") — the significance-corrected companion
    to PMI (x109): PMI divides by expected count and so EXPLODES for
    rare pairs (two hapaxes that co-occur once get the maximum score),
    while LLR is a G²-test statistic over the 2×2 contingency table
    ``[[k11, k12], [k21, k22]]`` (pair count, w1-without-w2,
    w2-without-w1, neither) that grows with EVIDENCE — the measure
    Dunning introduced precisely because PMI misranks sparse text.

    ``llr = 2 · Σ_ij k_ij · ln(k_ij · N / (R_i · C_j))`` over the
    nonzero cells (row/column marginals R/C, total bigram tokens N),
    rounded to 6. Output: top-``top_n``
    ``(w1, w2, pair_count, llr)`` rows, LLR descending with a
    ``(w1, w2)`` tiebreak; a ``min_count`` floor bounds the ranked
    table.

    Determinism: all counts exact integers; the four cell terms are
    summed in the FIXED written order (k11+k12+k21+k22 — not data
    order), each a per-row ``k·ln(integer ratio)`` — identical IEEE in
    both engines, one final round.

    Scale: two keyed aggs (bigram counts + marginals from the bigram
    table itself), one 1-row N broadcast, per-row math, TakeOrdered —
    the x109 cost class exactly.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    toks = _ws_tokens_factory(text_col, lowercase)
    bg = (
        df.filter(F.col(text_col).isNotNull())
        .select(toks().alias("__toks"))
        .select(F.explode(_bigram_pairs(F.col("__toks"))).alias("__bg"))
        .select(F.col("__bg.p").alias("__w1"), F.col("__bg.c").alias("__w2"))
        .groupBy("__w1", "__w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__k11"))
    )
    r1 = bg.groupBy("__w1").agg(F.sum("__k11").cast("bigint").alias("__r1"))
    c1 = bg.groupBy("__w2").agg(F.sum("__k11").cast("bigint").alias("__c1"))
    n = bg.agg(F.sum("__k11").cast("bigint").alias("__n"))
    t = (
        bg.filter(F.col("__k11") >= min_count)
        .join(r1, "__w1")
        .join(c1, "__w2")
        .crossJoin(F.broadcast(n))
        .select(
            "__w1",
            "__w2",
            "__k11",
            (F.col("__r1") - F.col("__k11")).alias("__k12"),
            (F.col("__c1") - F.col("__k11")).alias("__k21"),
            (
                F.col("__n") - F.col("__r1") - F.col("__c1")
                + F.col("__k11")
            ).alias("__k22"),
            F.col("__r1"),
            F.col("__c1"),
            F.col("__n"),
        )
    )

    def term(k, row, col):
        return F.when(
            k > 0,
            k.cast("double")
            * F.log(
                (k * F.col("__n")).cast("double")
                / (row * col).cast("double")
            ),
        ).otherwise(F.lit(0.0))

    llr = F.round(
        F.lit(2.0)
        * (
            term(F.col("__k11"), F.col("__r1"), F.col("__c1"))
            + term(
                F.col("__k12"),
                F.col("__r1"),
                F.col("__n") - F.col("__c1"),
            )
            + term(
                F.col("__k21"),
                F.col("__n") - F.col("__r1"),
                F.col("__c1"),
            )
            + term(
                F.col("__k22"),
                F.col("__n") - F.col("__r1"),
                F.col("__n") - F.col("__c1"),
            )
        ),
        6,
    )
    return t.select(
        F.col("__w1").alias("w1"),
        F.col("__w2").alias("w2"),
        F.col("__k11").alias("pair_count"),
        llr.alias("llr"),
    ).orderBy(F.desc("llr"), "w1", "w2").limit(int(top_n))


def phrase_search(
    df: DataFrame,
    phrase: "list[str] | str",
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Exact phrase search — the positional-index retrieval primitive
    (Manning, Raghavan & Schütze, IIR §2.4.2 "Positional indexes"):
    count, per document, the occurrences of the exact consecutive
    token sequence ``phrase`` and report the first match position —
    the capability BM25's bag-of-words scoring (x155) cannot express
    (it scores "new york" and "york new" identically). Output:
    ``(id, n_occurrences, first_pos)`` (1-based token position) for
    documents containing the phrase, ordered ``n_occurrences`` DESC
    with an id tiebreak.

    Spark-first spelling: the occurrence test is a PER-ROW array scan
    (``filter(sequence(1, n-m+1), i -> toks[i]=w1 AND ...)`` with the
    phrase tokens as plan literals) — zero shuffles, zero joins, whole
    document parallelism; a final TakeOrdered. At 100 TB a dedicated
    positional inverted index amortizes REPEATED phrase queries —
    build it from this same tokenization with ``posexplode`` and the
    x155 postings shape; the one-shot scan here is the index-free
    baseline the index is graded against.
    """
    terms = (
        [t for t in phrase.split() if t]
        if isinstance(phrase, str)
        else list(phrase)
    )
    if not terms:
        raise ValueError("phrase must be non-empty")
    if lowercase:
        terms = [t.lower() for t in terms]
    m = len(terms)
    toks = _ws_tokens_factory(text_col, lowercase)

    def match_at(i):
        cond = F.element_at(F.col("__toks"), i) == F.lit(terms[0])
        for j in range(1, m):
            cond = cond & (
                F.element_at(F.col("__toks"), i + F.lit(j))
                == F.lit(terms[j])
            )
        return cond

    hits = F.when(
        F.size("__toks") >= m,
        F.filter(
            F.sequence(F.lit(1), F.size("__toks") - F.lit(m - 1)),
            match_at,
        ),
    ).otherwise(F.array().cast("array<int>"))
    # Single-pass plan hygiene (the x203 rule): the old spelling put a
    # ``filter(size(__hits) > 0)`` ABOVE the projection computing
    # ``__hits``, and PushDownPredicate substitutes aliases into pushed
    # filters regardless of cost — the whole tokenize+scan pipeline got
    # re-inlined into the filter, where interpreted HOF lambdas
    # re-evaluate the token array PER POSITION: O(tokens²) per row,
    # measured 12.3s warm at sf0.1 for ~1.5 MB of text. Instead:
    # (1) fold occurrences+first position in ONE aggregate that
    # references ``__hits`` exactly once, and (2) emit matches by
    # exploding a 0/1-element array so NO Filter node exists for the
    # optimizer to push — multi-reference expensive aliases then stay
    # un-inlined (CollapseProject's cost guard) and the tokenization
    # runs once per row. 0.35s warm after; bit-identical output.
    stats = F.aggregate(
        hits,
        F.struct(
            F.lit(0).cast("bigint").alias("n"),
            F.lit(None).cast("int").alias("first"),
        ),
        lambda a, i: F.struct(
            (a["n"] + F.lit(1)).alias("n"),
            F.coalesce(a["first"], i).alias("first"),
        ),
        lambda a: a,
    )
    matched = F.filter(F.array(stats), lambda s: s["n"] > 0)
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks().alias("__toks"))
        .select(F.col(id_col), matched.alias("__m"))
        .select(F.col(id_col), F.explode("__m").alias("__s"))
        .select(
            id_col,
            F.col("__s.n").alias("n_occurrences"),
            F.col("__s.first").cast("bigint").alias("first_pos"),
        )
        .orderBy(F.desc("n_occurrences"), id_col)
    )

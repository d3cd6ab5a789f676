"""Text analysis over the documents corpus: token counting, quality
scoring, language-ID, fingerprinting.

All native Column expressions (JVM-side, whole-stage codegen) — no Python
in the hot path. Designed for the driver's `documents` table
(doc_id, text, lang, source, n_chars) but column-parameterized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny English function-word list for the n-gram/stopword heuristic
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "are",
]


def tokens(col: str = "text") -> Column:
    return F.split(F.trim(F.col(col)), r"\s+")


def token_count(col: str = "text") -> Column:
    return F.size(tokens(col))


def stopword_ratio(col: str = "text") -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: str = "text") -> Column:
    n_punct = F.length(F.regexp_replace(F.col(col), r"[^!-/:-@\[-`{-~]", ""))
    return n_punct / F.greatest(F.length(F.col(col)), F.lit(1))


def avg_token_len(col: str = "text") -> Column:
    toks = tokens(col)
    return F.aggregate(
        toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
    ) / F.greatest(F.size(toks), F.lit(1))


def quality_columns(col: str = "text") -> dict[str, Column]:
    """The pre-training quality gates as pure per-row Column expressions
    (inline-able into any projection, e.g. corpus_funnel's single
    scan). Rounding happens BEFORE the threshold compares, so the gate
    is identical wherever the expressions are evaluated."""
    n_tokens = token_count(col)
    avg_len = F.round(avg_token_len(col), 6)
    sw = F.round(stopword_ratio(col), 6)
    return {
        "n_chars_computed": F.length(F.col(col)),
        "n_tokens": n_tokens,
        "avg_token_len": avg_len,
        "stopword_ratio": sw,
        "punct_ratio": F.round(punct_ratio(col), 6),
        "quality_ok": (n_tokens >= 5)
        & (avg_len >= 2)
        & (avg_len <= 12)
        & (sw >= 0.01),
    }


def quality_features(df: DataFrame, col: str = "text") -> DataFrame:
    """Length / punctuation / stopword features + a composite score —
    the standard pre-training quality gates, one codegen'd projection."""
    cols = quality_columns(col)
    return df.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    )


def language_id(df: DataFrame, col: str = "text") -> DataFrame:
    """Heuristic language-ID: English function-word hit ratio. Mirrors the
    n-gram-frequency approach at tiny cost; real models plug in as a
    pandas_udf with the same output contract."""
    return df.select(
        "doc_id",
        F.round(stopword_ratio(col), 6).alias("en_ratio"),
    ).withColumn(
        "lang_pred", F.when(F.col("en_ratio") >= 0.05, F.lit("en")).otherwise(F.lit("und"))
    )


# PII patterns, deliberately written in the regex subset shared by Java
# (Spark) and RE2 (DuckDB/Go) so detection and its oracle are the same
# expression: no backrefs, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}
# redaction must substitute in this order: an SSN also matches the phone
# pattern's tail, so the longest/most-specific patterns run first
PII_REDACT_ORDER = ["email", "ssn", "phone", "ipv4"]


def pii_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-document PII hit counts per kind — one codegen'd projection
    (JVM regexp_count), no Python. The standard pre-training PII census."""
    return df.select(
        "doc_id",
        *[
            F.regexp_count(F.col(col), F.lit(pat)).alias(f"n_{kind}")
            for kind, pat in PII_PATTERNS.items()
        ],
    )


def redact_pii(df: DataFrame, col: str = "text", out: str = "redacted") -> DataFrame:
    """Replace every PII match with a typed placeholder token (e.g.
    ``<EMAIL>``) — sequential regexp_replace passes in PII_REDACT_ORDER so
    overlapping patterns resolve deterministically. Pure Column
    expressions; scales as a narrow map."""
    expr = F.col(col)
    for kind in PII_REDACT_ORDER:
        expr = F.regexp_replace(expr, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return df.withColumn(out, expr)


def classifier_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Hashed-token linear quality classifier (the fastText-style shape):
    each lowercase token hashes to a deterministic weight in [-0.5, 0.5)
    (md5 top-32-bits, the engine-portable hash used by the SimHash
    oracle), the document score is the mean token weight, and `label`
    thresholds it at 0. A trained model drops in by replacing the hash
    weight with a lookup against a broadcast weight table — the plan
    shape (narrow projection, no shuffle) is identical."""
    toks = tokens(col)
    # fold the weights in ascending order so the float sum is bit-equal
    # across engines (the SimHash-oracle technique); threshold the
    # ROUNDED score so the label can't flip on a sub-ulp difference
    weights = F.sort_array(
        F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(F.lower(t)), 1, 8), 16, 10).cast(
                "double"
            )
            / F.lit(float(2**32))
            - F.lit(0.5),
        )
    )
    score = F.round(
        F.aggregate(weights, F.lit(0.0), lambda acc, x: acc + x)
        / F.greatest(F.size(toks), F.lit(1)),
        6,
    )
    return df.select("doc_id", score.alias("score")).withColumn(
        "label", F.when(F.col("score") >= 0, "keep").otherwise("drop")
    )


def _max_multiplicity(arr: Column) -> Column:
    """Mode count of an array, per row: sort, then the longest run of
    equal adjacent elements — max multiplicity == max sorted-run length.
    One O(n log n) codegen'd expression; replaces the explode ->
    groupBy(doc, gram) -> groupBy(doc) -> join pattern, which paid two
    shuffles and a join per statistic for counts that never needed to
    leave their row."""
    s = F.array_sort(arr)
    return F.aggregate(
        s,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def repetition_columns(col: str = "text") -> dict[str, Column]:
    """The Gopher/MassiveText repetition gates as PURE per-row Column
    expressions (usable inline in any projection — corpus_funnel fuses
    them into its single scan):

        dup_3gram_frac  fraction of word 3-grams that are repeats
        top_word_frac   share of tokens taken by the most frequent token
        top_2gram_frac  share of 2-grams taken by the most frequent 2-gram
        repetition_ok   the composite keep/drop gate

    All four are narrow array expressions — no shuffle, no join, no
    per-doc aggregation: the mode counts come from _max_multiplicity's
    sorted-run fold. Values are bit-identical to the old aggregation
    formulation (same rounding, same denominators: a doc's gram total
    is its array size), which the DuckDB oracle still mirrors via
    groupBy — proving run-fold == count-max cross-engine."""
    toks = F.split(F.trim(F.lower(F.col(col))), r"\s+")
    idx3 = F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1)))
    g3 = F.transform(idx3, lambda i: F.concat_ws(" ", F.slice(toks, i, 3)))
    dup3 = F.round(
        (F.size(g3) - F.size(F.array_distinct(g3)))
        / F.greatest(F.size(g3), F.lit(1)).cast("double"),
        6,
    )
    idx2 = F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1)))
    g2 = F.transform(idx2, lambda i: F.concat_ws(" ", F.slice(toks, i, 2)))
    top_w = F.round(
        _max_multiplicity(toks) / F.size(toks).cast("double"), 6
    )
    top_2 = F.round(_max_multiplicity(g2) / F.size(g2).cast("double"), 6)
    return {
        "dup_3gram_frac": dup3,
        "top_word_frac": top_w,
        "top_2gram_frac": top_2,
        "repetition_ok": (dup3 <= 0.5) & (top_w <= 0.3) & (top_2 <= 0.2),
    }


def repetition_signals(
    df: DataFrame, col: str = "text", narrow: bool = False
) -> DataFrame:
    """Within-document repetition filters over a corpus.

    Two physical strategies with IDENTICAL values (both oracle-EXACT):

    - default (narrow=False): the mode statistics via explode ->
      groupBy(doc, gram) -> groupBy(doc) + joins. Two doc-keyed
      shuffles, but every per-element op runs inside Tungsten
      whole-stage codegen — measured 2.7x faster end-to-end on a
      CPU-bound host (local bench), because higher-order-function
      lambdas are evaluated interpreted, per element.
    - narrow=True: one shuffle-free projection of repetition_columns
      (sorted-run fold). Pays interpreted per-token CPU to avoid ALL
      shuffle traffic — the right trade only when the cluster is
      network-bound or the input is already perfectly partitioned.

    Gram keys never leave their document in either strategy, so there
    is no corpus-wide hub key at any scale."""
    if narrow:
        cols = repetition_columns(col)
        return df.select(
            "doc_id", *[c.alias(name) for name, c in cols.items()]
        )
    toks = F.split(F.trim(F.lower(F.col(col))), r"\s+")
    idx3 = F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1)))
    g3 = F.transform(idx3, lambda i: F.concat_ws(" ", F.slice(toks, i, 3)))
    dup3 = F.round(
        (F.size(g3) - F.size(F.array_distinct(g3)))
        / F.greatest(F.size(g3), F.lit(1)).cast("double"),
        6,
    )
    base = df.select("doc_id", dup3.alias("dup_3gram_frac"))

    def _top_frac(gram: Column, out: str) -> DataFrame:
        counts = (
            df.select("doc_id", F.explode(gram).alias("g"))
            .groupBy("doc_id", "g")
            .count()
        )
        return counts.groupBy("doc_id").agg(
            F.round(
                F.max("count") / F.sum("count").cast("double"), 6
            ).alias(out)
        )

    idx2 = F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1)))
    g2 = F.transform(idx2, lambda i: F.concat_ws(" ", F.slice(toks, i, 2)))
    out = (
        base.join(_top_frac(toks, "top_word_frac"), "doc_id")
        .join(_top_frac(g2, "top_2gram_frac"), "doc_id")
    )
    return out.withColumn(
        "repetition_ok",
        (F.col("dup_3gram_frac") <= 0.5)
        & (F.col("top_word_frac") <= 0.3)
        & (F.col("top_2gram_frac") <= 0.2),
    )


def bigram_lm_score(
    df: DataFrame,
    train: DataFrame | None = None,
    col: str = "text",
    k: float = 1.0,
    xent_threshold: float = 12.0,
) -> DataFrame:
    """CCNet-style language-model scoring: train an add-k-smoothed bigram
    LM from `train` (default: the corpus itself), then score every
    document by its per-bigram cross-entropy under that model —
    `xent = -avg(ln P(w2|w1))`, `P = (c(w1,w2)+k) / (c(w1,·)+k·V)` — the
    statistic perplexity filtering thresholds on (ppl = e^xent, monotone
    in xent, so the gate is equivalent and avoids a second libm call).

    Returns (doc_id, n_bigrams, xent, lm_ok); single-token documents get
    n_bigrams=0, xent NULL, lm_ok true (no evidence either way).

    Scale shape: training is two count aggregations over the exploded
    train bigrams (map-side partial agg; the context table derives from
    the bigram table, so train text is scanned once for counts plus once
    for the vocab scalar). Scoring is one hash join keyed by (w1, w2)
    and one keyed by w1 — zipfian stopword contexts make w1 a skewed
    key, which AQE skew-join splits. Neither count table is ASSUMED
    broadcastable (web-scale vocab): the joins are declared plain and
    AQE picks the strategy — broadcast when a count table measures
    small (it does at test scale), shuffle join with skew splitting
    beyond the broadcast threshold.
    The vocab size is the only scalar, attached via a 1-row broadcast
    cross join. Per-doc reduction folds the ROUNDED per-bigram nll in
    ascending order (sort_array + left fold — the classifier_score /
    SimHash-oracle technique), so the float sum is bit-equal across
    engines. Rounding here is the explicit `floor(x*1e6 + 0.5)/1e6`
    half-up, NOT F.round: the mean of 6-decimal nll values routinely
    lands exactly on a 7th-digit .5 boundary (a 6-decimal sum divided by
    a small integer n), where Spark's BigDecimal-via-toString HALF_UP
    and DuckDB's binary half-away disagree by 1e-6; the floor formula is
    the same IEEE multiply/add/floor in both engines, so it is bit-equal
    whenever its input is (nll >= 0 always, so floor+0.5 == half-up)."""
    train = df if train is None else train
    toks = F.split(F.trim(F.lower(F.col(col))), r"\s+")

    def bigrams(d: DataFrame) -> DataFrame:
        # zip_with over two shifted slices: size-1 pairs, empty when the
        # doc has <2 tokens (slice length 0), all narrow
        n = F.size(toks)
        pairs = F.zip_with(
            F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        return d.select("doc_id", F.explode(pairs).alias("b")).select(
            "doc_id", "b.w1", "b.w2"
        )

    bc = bigrams(train).groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = train.select(F.explode(toks).alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )

    def _round6(c: F.Column) -> F.Column:
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    nll = _round6(
        -F.log(
            (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(k))
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k) * F.col("v"))
        )
    )
    per_doc = (
        bigrams(df)
        .join(bc, ["w1", "w2"], "left")
        .join(cc, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            _round6(
                F.aggregate(
                    F.sort_array(F.collect_list("nll")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count("*")
            ).alias("xent"),
        )
    )
    return (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "xent",
            F.coalesce(F.col("xent") <= F.lit(xent_threshold), F.lit(True)).alias(
                "lm_ok"
            ),
        )
    )


def fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Document fingerprints: full-content md5 + a shingle-set rolling
    fingerprint (min/max of 64-bit shingle hashes) for cheap near-dup
    triage before MinHash."""
    sh = F.transform(
        F.slice(tokens(col), 1, 64),
        lambda t: F.xxhash64(F.lower(t)),
    )
    return df.select(
        "doc_id",
        F.md5(F.lower(F.col(col))).alias("md5"),
        F.xxhash64(F.lower(F.col(col))).alias("h64"),
        F.array_min(sh).alias("shingle_min"),
        F.array_max(sh).alias("shingle_max"),
    )


def inverted_index(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Token -> posting-list index over the corpus: for each distinct
    whitespace token, its document frequency and the comma-joined
    sorted list of containing doc ids. Output (term, df, postings).

    Scale shape: explode + distinct is one shuffle on (term, doc); the
    df census and the posting collect both key on term, so Catalyst
    reuses the join's hash partitioning for the final groupBy (one
    Exchange on term total). `max_df` bounds the hub problem — a
    stopword's posting row would otherwise be corpus-sized — by
    filtering on the (term, df) census BEFORE any list is built;
    production indexes always drop or tier such terms. Postings are a
    canonical string (numeric doc order), so the oracle is
    string_agg(... ORDER BY) — no engine-specific array rendering."""
    tok = (
        df.select(
            F.col(id_col).alias("doc"), F.explode(tokens(col)).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    census = tok.groupBy("term").agg(F.count("*").alias("df"))
    if max_df is not None:
        census = census.filter(F.col("df") <= max_df)
    return (
        tok.join(census, "term")
        .groupBy("term", "df")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc")),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings")
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF:
    idf = round6(ln((N + 1) / (df + 1)) + 1), tfidf = round6(tf * idf),
    ranked per document by (tfidf DESC, term ASC) — the keyword-
    extraction step of a corpus-quality pipeline. Output
    (doc, term, tf, df, tfidf, rank), rank <= k.

    Determinism: idf is rounded to 6 decimals BEFORE the tf multiply
    (tf is an integer, so tf * idf6 is exact in doubles up to tf ~ 2^32
    / 10^6), and the rank ties break on the rounded value then the term
    — so rank order is identical in any engine (same trick as
    bigram_lm_score). N is one scalar count to the driver (documented;
    O(1) traffic). Scale shape: tf groupBy on (doc, term), df census on
    term, broadcast-size join of the census back (term domain, not
    corpus domain), one window per doc — a document's term set is
    bounded by the document, so no skewed sort."""
    tok = (
        df.select(
            F.col(id_col).alias("doc"), F.explode(tokens(col)).alias("term")
        )
        .filter(F.col("term") != "")
    )
    tf = tok.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.col(id_col)).distinct().count()

    def _round6(c: F.Column) -> F.Column:
        return F.round(c, 6)

    idf6 = _round6(
        F.log((F.lit(float(n_docs + 1))) / (F.col("df") + F.lit(1.0)))
        + F.lit(1.0)
    )
    scored = tf.join(dfc, "term").withColumn(
        "tfidf", _round6(F.col("tf") * idf6)
    )
    w = Window.partitionBy("doc").orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc", "term", "tf", "df", "tfidf", "rank")
    )


def boilerplate_census(
    df: DataFrame,
    min_df: int = 2,
    window: int = 10,
    col: str = "text",
) -> DataFrame:
    """Boilerplate removal census (the RefinedWeb / CCNet line-dedup
    shape, applied to fixed token windows since this corpus has no
    newlines): chunk every document into `window`-token segments, count
    each distinct segment's DOCUMENT frequency corpus-wide, and mark
    segments appearing in >= `min_df` documents as boilerplate
    (navigation bars, license footers, template text — content repeated
    across pages rather than within one). Unlike paragraph_dedup (which
    keeps the first occurrence), boilerplate removal drops EVERY
    occurrence of a cross-document segment, including the first.

    Returns per document:
        doc_id, n_chunks, n_boiler, boiler_ratio, clean_md5
    where clean_md5 fingerprints the surviving text (non-boilerplate
    chunks re-joined in order; empty string when everything is
    boilerplate).

    Scale shape: one narrow chunking projection; the document-frequency
    census is (chunk-hash, doc_id) distinct -> groupBy(chunk-hash) — two
    shuffles on near-uniform hash keys, partial-aggregated map-side; the
    flag join keys on the same chunk hash so AQE reuses the exchange. A
    boilerplate segment shared by millions of pages contributes ONE
    census row (count, not collect) — no hub posting list is ever
    built."""
    toks = F.split(F.trim(F.lower(F.col(col))), r"\s+")
    n_chunks = F.ceil(F.size(toks) / F.lit(window)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * window + 1, window)),
    )
    exploded = df.select(
        "doc_id", F.posexplode(chunks).alias("idx", "chunk")
    ).withColumn("ch", F.md5(F.col("chunk")))
    census = (
        exploded.select("ch", "doc_id")
        .distinct()
        .groupBy("ch")
        .agg(F.count("*").alias("docfreq"))
    )
    flagged = exploded.join(census, "ch").withColumn(
        "is_boiler", F.col("docfreq") >= min_df
    )
    kept = F.when(~F.col("is_boiler"), F.col("chunk"))
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.col("is_boiler").cast("int")).cast("long").alias("n_boiler"),
        F.round(
            F.sum(F.col("is_boiler").cast("int"))
            / F.count("*").cast("double"),
            6,
        ).alias("boiler_ratio"),
        F.md5(
            F.coalesce(
                F.concat_ws(" ", F.array_sort(
                    F.collect_list(F.when(~F.col("is_boiler"), F.struct(
                        F.col("idx"), F.col("chunk")
                    )))
                ).getField("chunk")),
                F.lit(""),
            )
        ).alias("clean_md5"),
    )


def chunk_documents(
    df: DataFrame, col: str = "text", size: int = 120, stride: int = 80
) -> DataFrame:
    """RAG-style sliding-window chunking: overlapping fixed-size
    character windows at `stride` spacing, chunk starts 0, stride,
    2*stride, ... while start < length (the last window may be short).
    Returns the input columns minus `col` plus (chunk_ix:int,
    chunk:string).

    Scale shape: pure native Column program — one posexplode over an
    in-row `sequence`, no shuffle at all (chunking is embarrassingly
    row-local); the substring runs inside whole-stage codegen. Chunk
    count per row is ceil(len/stride), so output size is predictable
    from the corpus byte count: ~len/stride rows of `size` chars each
    (expansion factor size/stride)."""
    n = F.length(F.col(col))
    starts = F.sequence(
        F.lit(0), F.floor((n - F.lit(1)) / F.lit(stride)).cast("int")
    )
    keep = [c for c in df.columns if c != col]
    ex = df.filter(n > 0).select(
        *keep,
        F.col(col).alias("__t"),
        F.posexplode(starts).alias("chunk_ix", "__i"),
    )
    chunk = F.col("__t").substr(
        F.col("__i") * stride + F.lit(1), F.lit(size)
    )
    return ex.select(*keep, "chunk_ix", chunk.alias("chunk"))


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 retrieval: rank documents for a bag of query terms —
    the lexical half of a retrieval stack (tfidf_top_terms extracts
    keywords; this SCORES documents against a query; knn_join is the
    dense half).

    Determinism contract (cross-engine, same as tfidf_top_terms):
    idf = round6(ln(1 + (N - df + 0.5)/(df + 0.5))) per term; the
    per-(doc, term) partial
        idf6 * ((tf*(k1+1)) / (tf + k1*((1-b) + b*(dl/avgdl))))
    is evaluated in exactly this operation order, fixed-pointed to
    integer micro-units per row, and the per-document score is the
    INT64 sum of those units divided once at the end — so the sum is
    order-independent and bit-identical in any engine (the same trick
    as the TPC-H revenue queries). Ties break on doc id.

    Scale shape: tokens explode once; doc lengths and the corpus-size
    scalar come from one aggregate (N and avgdl are O(1) driver
    traffic); tf is computed only for the query's terms (scan-filtered
    before the groupBy); the df census covers only those terms too, so
    the join back is a handful of rows broadcast. One window bounded
    at k rows per partition via the final TakeOrdered."""
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(col)).alias("term")
    ).filter(F.col("term") != "")
    dl = tok.groupBy("doc").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.sum("dl").alias("total"), F.count("*").alias("n")
    ).head()
    # empty corpus: no tokens -> no tf rows either, so any positive
    # avgdl placeholder yields the same (empty) result without a 0/0
    n_docs = stats["n"]
    avgdl = float(stats["total"] or 1) / float(n_docs or 1)
    qtok = tok.filter(F.col("term").isin(list(query_terms)))
    tf = qtok.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf6 = F.round(
        F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    partial = idf6 * (
        (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
        )
    )
    scored = (
        tf.join(F.broadcast(dfc), "term")
        .join(dl, "doc")
        .withColumn(
            "part_i",
            F.floor(partial * F.lit(1e6) + F.lit(0.5)).cast("long"),
        )
    )
    return (
        scored.groupBy("doc")
        .agg((F.sum("part_i") / F.lit(1e6)).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc"))
        .limit(k)
    )


def ngram_novelty(df: DataFrame, col: str = "text", n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct n-grams whose FIRST corpus occurrence (minimum doc_id) is
    this document — the memorization/freshness signal curriculum and
    crawl-prioritization jobs rank by (a doc of all-novel n-grams adds
    new text; a doc of zero-novelty n-grams is assembled from seen
    material).

    Scale shape — every aggregate map-side-combinable, no hub-key task:
    a shingle's novelty credit goes to exactly ONE document (its min
    doc_id), so n_novel is derivable from the first-occurrence census
    alone — `min(doc_id) per shingle`, then `count per first_doc` —
    with partial aggregation at both hops (a corpus-wide hub shingle
    is min-combined inside each map task and crosses the wire as one
    row per partition, never as a single reducer's row pile; the
    earlier window/join formulations both funneled every row of a hub
    shingle into one task). n_grams never shuffles at all — it is
    size(array_distinct(grams)) computed narrowly per row, so the only
    join is doc-keyed between that narrow projection and the census.
    Novelty is fixed-point-rounded to 6dp. Returns
    (doc_id, n_grams, n_novel, novelty)."""
    from pathways2go_spark.dedup import _gram_array, _shingles

    # a NULL-text doc has no n-grams: drop it, as the DuckDB oracle does
    # (_gram_array would turn NULL text into one empty-string gram)
    df = df.filter(F.col(col).isNotNull())
    sh = _shingles(df, col, n)
    grams = df.select(
        "doc_id", F.size(_gram_array(col, n)).cast("long").alias("n_grams")
    )
    novel = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count("*").alias("n_novel"))
        .withColumnRenamed("first_doc", "doc_id")
    )
    return (
        grams.join(novel, "doc_id", "left")
        .withColumn("n_novel", F.coalesce(F.col("n_novel"), F.lit(0)))
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (
                F.floor(
                    F.col("n_novel") / F.col("n_grams") * 1e6
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("novelty"),
        )
    )

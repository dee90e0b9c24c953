"""Text-analysis operators for training-data curation.

All JVM-side expressions (regexp counts, integer arithmetic) — no Python
UDFs — so they run inside whole-stage codegen and scale with the scan.
Scores that would naturally be floats are kept in integer basis points
(floor(1000*x)) so results hash identically to the SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.pipeline.dedup import tokens_col

# language marker words; scored by occurrence count, argmax with fixed
# precedence (en > fr > de > es) on ties; zh wins if any CJK chars present.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "los", "que", "de", "y"],
}
CJK = r"[一-鿿]"


def _marker_count(lang: str, col: str = "text"):
    pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pat), F.lit(1)))


def lang_pred_col(col: str = "text"):
    """Predicted-language Column over any text column — the argmax CASE
    chain shared by lang_id (doc level) and span_lang_mix (span level)."""
    has_cjk = F.size(F.regexp_extract_all(col, F.lit(CJK), F.lit(0))) > 0
    c = {l: _marker_count(l, col) for l in LANG_MARKERS}
    return (
        F.when(has_cjk, F.lit("zh"))
        .when((c["en"] > 0) & (c["en"] >= c["fr"]) & (c["en"] >= c["de"]) & (c["en"] >= c["es"]), F.lit("en"))
        .when((c["fr"] > 0) & (c["fr"] >= c["de"]) & (c["fr"] >= c["es"]), F.lit("fr"))
        .when((c["de"] > 0) & (c["de"] >= c["es"]), F.lit("de"))
        .when(c["es"] > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-count language ID; argmax with fixed precedence on ties.

    The CASE chain (zh-if-CJK, then en >= all, fr >= rest, ...) is written
    identically in the DuckDB oracle, so predictions match exactly.
    """
    pred = lang_pred_col("text")
    return documents.select(
        "doc_id",
        F.col("lang").alias("actual"),
        pred.alias("predicted"),
        (pred == F.col("lang")).alias("correct"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals, integer bp."""
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    n_tok = F.size(toks)
    n_chars = F.length("text")
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    stop_pat = r"\b(the|and|of|to|is|a|in)\b"
    n_stop = F.size(F.regexp_extract_all(F.lower("text"), F.lit(stop_pat), F.lit(1)))
    base = documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars_m"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
    )
    # integer div (exact floor) so values hash identically to the SQL oracle
    return base.select(
        "doc_id",
        "n_tokens",
        "n_chars_m",
        "n_punct",
        "n_stopwords",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (1000 * CAST(n_stopwords AS BIGINT)) DIV n_tokens ELSE 0 END"
        ).alias("stop_bp"),
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (1000 * CAST(n_chars_m AS BIGINT)) DIV n_tokens ELSE 0 END"
        ).alias("avg_toklen_bp"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish sub-token count per document."""
    ws = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
    bpe_pat = r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"
    bpe = F.size(F.regexp_extract_all("text", F.lit(bpe_pat), F.lit(1)))
    return documents.select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_tokens")
    )


def repetition_signals(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals, integer basis points.

    Two signals per document:

    - ``top_tok_bp`` — fraction of tokens equal to the single most frequent
      token (boilerplate / keyword-stuffing marker). Computed the scalable
      way: explode -> partial-agg count per (doc, token) -> max per doc.
      Both shuffles key on ``doc_id`` (+token), so the plan parallelizes
      with the corpus and never materializes a per-doc vocabulary driver-side.
    - ``dup_bigram_bp`` — fraction of adjacent-token bigrams that are
      repeats of an earlier bigram in the same doc (near-copy / template
      marker). Pure array math per row (``transform`` + ``array_distinct``)
      — linear in tokens, no shuffle at all.

    Thresholding these (e.g. drop docs with top_tok_bp > 100) is the
    curation filter; this operator returns the raw signals so the cut
    stays policy, not plumbing.
    """
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    base = documents.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        "toks",
        F.size("toks").alias("n_tokens"),
        F.when(
            F.size("toks") >= 2,
            F.expr("transform(sequence(0, size(toks) - 2),"
                   " i -> concat(toks[i], ' ', toks[i + 1]))"),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("bigrams"),
    )
    per_doc = base.select(
        "doc_id",
        "n_tokens",
        F.size("bigrams").alias("n_bigrams"),
        (F.size("bigrams") - F.size(F.array_distinct("bigrams"))).alias("dup_bigrams"),
    )
    top = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_tok_n"))
    )
    out = per_doc.join(top, "doc_id", "left").na.fill({"top_tok_n": 0})
    return out.select(
        "doc_id",
        "n_tokens",
        F.col("top_tok_n").cast("long").alias("top_tok_n"),
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (1000 * CAST(top_tok_n AS BIGINT)) DIV n_tokens ELSE 0 END"
        ).alias("top_tok_bp"),
        "n_bigrams",
        F.expr(
            "CASE WHEN n_bigrams > 0 THEN (1000 * CAST(dup_bigrams AS BIGINT)) DIV n_bigrams ELSE 0 END"
        ).alias("dup_bigram_bp"),
    )


def vocab_topk(documents: DataFrame, k: int = 20) -> DataFrame:
    """Per-language top-k tokens by instance count (the vocabulary-coverage
    snapshot a tokenizer/mixture review wants). Ties break on the token
    string so ranks are total and engine-independent.

    Scale shape: explode -> one partial->final aggregation keyed on
    (lang, token); the top-k window runs over the AGGREGATED relation
    (cardinality = #distinct (lang, token), tiny vs corpus) partitioned by
    lang — never a window over token instances.
    """
    from pyspark.sql import Window

    from crawler_spark.pipeline.dedup import tokens_col

    inst = documents.select("lang", F.explode(tokens_col()).alias("tok"))
    counts = inst.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )


def tfidf_topterms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k terms by an integer-exact TF-IDF.

    Keyword extraction for corpus triage (what is this cluster of pages
    about?) and a building block for topic-balance mixing. The usual
    ``tf * ln(N/df)`` is float and engine-dependent at the ULP level, so
    ranks would not be stable across engines; this uses the integer
    surrogate ``idf_bits = length(bin(N div df))`` — the bit-length of the
    inverse document frequency, i.e. floor(log2(N/df)) + 1 >= 1 — giving
    ``score = tf * idf_bits`` in exact BIGINT arithmetic. Same ordering
    intuition (rare terms weighted up, ubiquitous terms at weight 1), total
    rank order via (score desc, term asc).

    Scale shape: explode -> partial->final (doc,term) tf aggregate -> term
    df aggregate (tiny: one row per distinct term) joined back — AQE
    broadcasts it at small scale, shuffle-joins on term at corpus scale ->
    corpus size N via a 1-row aggregate cross-join (broadcast) -> top-k
    window over the AGGREGATED per-doc relation partitioned by doc_id
    (group size = doc vocabulary, never corpus-wide).
    """
    from pyspark.sql import Window

    from crawler_spark.pipeline.dedup import tokens_col

    base = (
        documents.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfreq = base.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n = documents.select(F.count("*").cast("long").alias("n_corpus"))
    scored = (
        base.join(dfreq, "term")
        .crossJoin(n)
        .withColumn(
            "score",
            F.col("tf")
            * F.length(F.bin(F.expr("n_corpus div df"))).cast("long"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    )


def bm25_topk(
    documents: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    scale: int = 10_000,
) -> DataFrame:
    """Top-k documents for a term query by integer-exact BM25
    (k1 = 1.2, b = 0.75 — the standard Robertson constants, kept as exact
    rationals 6/5 and 3/4).

    The retrieval scorer the inverted_index feeds. Float BM25 is not
    reproducible across engines (ln, division order), so every factor is
    an integer surrogate with a documented floor:

    - ``idf_bits`` = bit-length of (N div df), as in ``tfidf_topterms``;
    - per-doc length ratio ``dlr`` = floor(1000 * dl * N / T) where dl =
      doc tokens, T = corpus tokens, N = docs — i.e. dl/avgdl in milli
      units, floored once per document;
    - per-(doc, term) partial = floor(scale * idf_bits * 22000 * tf /
      (10000 * tf + 3000 + 9 * dlr)), which is exactly
      scale * idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with the
      rationals cleared (multiply num/den by 10) and dlr substituted;
    - doc score = sum of partials over the query terms (monotone in each).

    Headroom: scale * 63 * 22000 * tf needs tf < 6.6e11 — any real page
    is orders of magnitude under that; the floors cost < 0.1% of a
    partial, uniformly, so ranking is preserved for all but exact ties,
    which the (score desc, doc_id) order breaks deterministically.

    Scale shape: tf aggregation keyed (doc, term) restricted to the query
    terms BEFORE aggregating (an isin filter pushed to the scan — the
    inverted-index lookup in relational clothes); df and the (N, T)
    scalars are one tiny aggregate each, broadcast by AQE; the top-k is a
    single global sort-limit (TakeOrderedAndProject — no full sort at any
    scale Spark can hold the top k of).
    """
    from crawler_spark.pipeline.dedup import tokens_col

    inst = documents.select("doc_id", F.explode(tokens_col()).alias("term"))
    tf = (
        inst.filter(F.col("term").isin(list(query_terms)))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    dl = documents.select(
        "doc_id", F.size(tokens_col()).cast("long").alias("dl")
    )
    corpus = documents.select(
        F.count("*").cast("long").alias("n_corpus")
    ).crossJoin(
        inst.select(F.count("*").cast("long").alias("t_corpus"))
    )
    scored = (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(corpus)
        .withColumn("idf_bits", F.length(F.bin(F.expr("n_corpus div df"))).cast("long"))
        .withColumn("dlr", F.expr("(1000 * dl * n_corpus) div t_corpus"))
        .withColumn(
            "partial",
            F.expr(
                f"({scale} * idf_bits * 22000 * tf) div (10000 * tf + 3000 + 9 * dlr)"
            ),
        )
    )
    agg = scored.groupBy("doc_id").agg(F.sum("partial").cast("long").alias("score"))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def source_stats(documents: DataFrame) -> DataFrame:
    """Per-source (host/domain analog) corpus rollup for curation triage.

    One partial->final aggregation shuffle keyed on ``source``; count,
    volume, language spread, and exact-dup pressure (docs minus distinct
    normalized fingerprints) per source. At 100 TB this is the job that
    decides which domains to keep, cap, or drop — a single groupBy whose
    key cardinality (#hosts) is tiny relative to the corpus.
    """
    norm = F.regexp_replace(F.lower("text"), r"\s+", " ")
    return (
        documents.select("source", "lang", F.length("text").alias("nc"), F.md5(norm).alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("nc").cast("long")).alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            (F.count("*") - F.countDistinct("fp")).cast("long").alias("n_exact_dups"),
        )
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Normalized-content fingerprint (whitespace-collapsed, lowercased)."""
    norm = F.regexp_replace(F.lower("text"), r"\s+", " ")
    return documents.select("doc_id", F.md5(norm).alias("fp"))


def length_deciles(documents: DataFrame) -> DataFrame:
    """Exact decile cut-points of the document-length distribution.

    Built on the length HISTOGRAM, not a global sort: one partial->final
    aggregation keyed on the length value (cardinality = #distinct lengths,
    tiny vs corpus), then a cumulative sum + rank-math lookup over that
    histogram. The only window runs over the histogram rows, so the
    "unpartitioned window" anti-pattern doesn't apply — its input is
    O(#distinct lengths) regardless of corpus size. Decile d = the value at
    sorted position floor((n-1)*d/10)+1 (1-based), i.e. the inclusive
    lower-rank element — mirrored exactly in the SQL oracle. For a
    one-pass approximate variant at 100 TB use percentile_approx; this
    exact form is the oracle-gated QC snapshot.
    """
    from pyspark.sql import Window

    hist = documents.groupBy(F.length("text").alias("len")).agg(
        F.count("*").alias("c")
    )
    w = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("len", F.sum("c").over(w).alias("cum"))
    deciles = documents.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("decile")
    )
    n = cum.select(F.max("cum").alias("n"))
    targets = deciles.crossJoin(n).select(
        "decile", (F.expr("(n - 1) * decile DIV 10") + 1).alias("target")
    )
    return (
        targets.join(cum, cum["cum"] >= targets["target"])
        .groupBy("decile")
        .agg(F.min("len").cast("long").alias("len_value"))
    )


def segment_dedup(documents: DataFrame, k: int = 10) -> DataFrame:
    """Cross-document duplicated-segment signals (line-dedup analog).

    RefinedWeb/CCNet-style line-level dedup generalized to corpora without
    newlines: a *segment* is a non-overlapping ``k``-token chunk (trailing
    partial chunk included), and a segment is *duplicated* when at least one
    OTHER document contains the same chunk. Per doc we report how much of it
    is corpus-repeated boilerplate; thresholding ``dup_seg_bp`` (or stripping
    the flagged chunks) is the curation policy layer.

    Scale shape: one explode (segments ≈ tokens/k, ~10x cheaper than a
    token explode), one partial->final aggregation keyed on the segment
    hash (cardinality = #distinct segments), then a join back on that same
    hash — the aggregated side has exactly one row per key, so join fan-out
    equals the instance count and a hot boilerplate segment never goes
    quadratic (contrast the df-capped ngram_jaccard join). Within-doc
    repeats with corpus df=1 are deliberately NOT counted — that is
    ``repetition_signals``'s axis.
    """
    base = documents.select("doc_id", tokens_col().alias("toks"))
    segs = base.select(
        "doc_id",
        F.when(
            F.size("toks") > 0,
            F.expr(
                f"transform(sequence(0, (size(toks) - 1) DIV {k}),"
                f" i -> concat_ws(' ', slice(toks, i * {k} + 1, {k})))"
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("segs"),
    )
    inst = segs.select("doc_id", F.explode("segs").alias("seg")).select(
        "doc_id", F.md5("seg").alias("sh")
    )
    dfreq = inst.groupBy("sh").agg(F.countDistinct("doc_id").alias("df"))
    per = (
        inst.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0)).cast("long").alias("n_segments"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_segments"),
            F.expr(
                "CASE WHEN coalesce(n_segments, 0) > 0"
                " THEN (1000 * CAST(coalesce(n_dup, 0) AS BIGINT)) DIV n_segments"
                " ELSE 0 END"
            ).alias("dup_seg_bp"),
        )
    )


def lm_score(documents: DataFrame) -> DataFrame:
    """Corpus-bigram LM fluency score (perplexity-filter analog), integer bp.

    CCNet-style perplexity filtering without a float log: the score is the
    per-doc average *conditional bigram probability* P(w2|w1) estimated from
    the corpus itself, in basis points — low = incoherent/rare word
    sequences, high = predictable text. Exact integer math (floor-div per
    bigram, then floor-div of the weighted sum) so Spark and the SQL oracle
    hash identically; a real deployment would swap the corpus counts for a
    pretrained n-gram table via the same joins.

    Scale shape: bigram instances are pre-aggregated PER DOC to
    (doc_id, t1, t2, n) before any join, so the join against the global
    bigram-count relation is (#distinct doc-bigrams) x 1 — never an
    instance-level fan-out. Global tables: one partial->final agg keyed on
    (t1, t2) for bigram counts; context counts derive from that same
    relation by a second tiny agg on t1. Hot contexts ("the ...") skew the
    t1 agg only, which AQE splits; the per-doc join key is the full bigram.
    """
    base = documents.select("doc_id", tokens_col().alias("toks"))
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(0, size(toks) - 2),"
            " i -> struct(toks[i] AS t1, toks[i + 1] AS t2))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<t1:string,t2:string>>)"))
    inst = base.select("doc_id", F.explode(bigrams).alias("bg")).select(
        "doc_id", F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2")
    )
    doc_bg = inst.groupBy("doc_id", "t1", "t2").agg(F.count("*").alias("n"))
    bg_counts = doc_bg.groupBy("t1", "t2").agg(F.sum("n").alias("cb"))
    ctx_counts = bg_counts.groupBy("t1").agg(F.sum("cb").alias("cu"))
    scored = (
        doc_bg.join(bg_counts, ["t1", "t2"])
        .join(ctx_counts, "t1")
        .select(
            "doc_id",
            "n",
            F.expr("(1000 * CAST(cb AS BIGINT)) DIV cu").alias("p_bp"),
        )
    )
    per = scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        F.expr("sum(n * p_bp) DIV sum(n)").alias("lm_bp"),
    )
    return (
        documents.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("lm_bp", F.lit(0)).cast("long").alias("lm_bp"),
        )
    )


def template_stats(documents: DataFrame, head_k: int = 8, min_df: int = 2) -> DataFrame:
    """Boilerplate-template detection by shared document head.

    Pages stamped from one site template share their first tokens (nav
    bars, cookie banners); the head fingerprint (md5 of the first
    ``head_k`` tokens) groups them. Per doc: its template fingerprint, how
    many documents share it, and the is-boilerplate flag at ``min_df``.
    Scale: one partial->final agg on the fingerprint + one join back on the
    same key (aggregated side is one row per template) — the standard
    count-then-annotate shape, linear in the corpus.
    """
    toks = tokens_col()
    fp = F.md5(F.concat_ws(" ", F.slice(toks, 1, head_k)))
    base = documents.select("doc_id", fp.alias("template_fp"))
    dfreq = base.groupBy("template_fp").agg(
        F.countDistinct("doc_id").alias("template_df")
    )
    return base.join(dfreq, "template_fp").select(
        "doc_id",
        "template_fp",
        F.col("template_df").cast("long").alias("template_df"),
        (F.col("template_df") >= min_df).alias("is_template"),
    )


def bpe_pair_counts(documents: DataFrame, top_n: int = 50) -> DataFrame:
    """One BPE-training merge step at corpus scale: counts of adjacent
    symbol (character) pairs inside word tokens, ranked.

    This is the inner loop of byte-pair-encoding tokenizer training — the
    pair with the max count is the next merge. Distributed shape: tokens
    are first aggregated to (token, token_count) — the corpus' word
    frequency table, orders of magnitude smaller than the token stream —
    and pairs are exploded from THAT relation weighted by token_count, so
    a 100 TB corpus pays one token-level agg and a vocab-sized pair
    explode, not a per-instance character explode. Ties rank on the pair
    string so the order is total and engine-independent.
    """
    from pyspark.sql import Window

    tok_counts = (
        documents.select(F.explode(tokens_col()).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tc"))
    )
    pairs = tok_counts.filter(F.length("tok") >= 2).select(
        "tc",
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> concat(substring(tok, i, 1), ' ', substring(tok, i + 1, 1)))"
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("tc").alias("n"))
    # global window is safe here: its input is the aggregated pair relation,
    # bounded by |charset|^2 rows regardless of corpus size
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= top_n)
        .select("pair", F.col("n").cast("long").alias("n"), "rk")
    )


# PII patterns deliberately simple + engine-portable (Java regex == RE2
# subset): redaction at 100 TB is a straight regexp_replace scan, fully
# inside whole-stage codegen, so it composes with any other per-doc map
# stage for free.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_LONGNUM = r"[0-9]{7,}"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Redact emails and long digit runs (phone/account-number analog);
    emit per-doc redaction counts so the curation layer can threshold on
    PII density as a quality signal, not just scrub."""
    n_email = F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), F.lit(0)))
    # count AFTER email removal so an address's digits aren't double-counted
    no_email = F.regexp_replace("text", PII_EMAIL, "<EMAIL>")
    n_num = F.size(F.regexp_extract_all(no_email, F.lit(PII_LONGNUM), F.lit(0)))
    clean = F.regexp_replace(no_email, PII_LONGNUM, "<NUM>")
    return documents.select(
        "doc_id",
        clean.alias("clean_text"),
        n_email.alias("n_emails"),
        n_num.alias("n_longnums"),
    )


def quality_model(documents: DataFrame, threshold_bp: int = 0) -> DataFrame:
    """Hashed-feature linear quality scorer (fasttext-classifier shape).

    The production pattern for model-based quality filtering (e.g. the
    fasttext classifiers used by LLaMA/CCNet-style pipelines) is: hash each
    token to a weight, average, threshold. The Spark-side plumbing here is
    the real thing — tokenize, per-token weight lookup, exact integer
    mean, keep flag — with the learned weight table replaced by a
    deterministic hash-derived weight w(tok) = (7*len(tok) +
    codepoint(tok[0])) % 13 - 6, so the DuckDB oracle can re-derive every
    score. Swapping in trained weights = broadcast-joining a real
    (token -> weight) relation in place of the arithmetic; no shape change.

    Scale: explode + one partial->final agg keyed doc_id (whole-stage
    codegen end to end; the weight is computed map-side). Score is exact
    integer basis points: (10000 * sum_w) DIV n_tokens.
    """
    base = documents.select("doc_id", tokens_col().alias("toks"))
    inst = base.select("doc_id", F.explode("toks").alias("tok"))
    per = (
        inst.select(
            "doc_id",
            F.expr(
                "(7 * length(tok) + ascii(substring(tok, 1, 1))) % 13 - 6"
            ).cast("long").alias("w"),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("w").alias("w_sum"))
        .select(
            "doc_id",
            "n_tokens",
            F.expr("(10000 * w_sum) DIV n_tokens").alias("score_bp"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("score_bp", F.lit(0)).cast("long").alias("score_bp"),
            (F.coalesce("score_bp", F.lit(0)) >= threshold_bp).alias("keep"),
        )
    )


def ccnet_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style head/middle/tail bucket per language from the LM score.

    CCNet splits each language's corpus into perplexity terciles and trains
    preferentially on the head. Here the fluency signal is ``lm_score``'s
    integer lm_bp (high = predictable = head). Bucket boundaries are exact
    tercile rank-math over the per-(lang, lm_bp) HISTOGRAM — the
    length_deciles pattern: lm_bp is bounded in [0, 1000], so the histogram
    is at most #langs x 1001 rows, the cumulative window runs over THAT
    relation (never per-doc — a per-doc rank window partitioned by lang
    would funnel a whole language through one partition at corpus scale),
    and the bucket cutoffs broadcast-join back to documents. Tie rule:
    every doc sharing a (lang, lm_bp) value lands in the bucket of the
    value group's FIRST sorted position (cum = docs strictly better):
    head if 3*cum < n, middle if 3*cum < 2n, else tail — deterministic
    without ordering within ties.
    """
    from pyspark.sql import Window

    lm = lm_score(documents).select("doc_id", "lm_bp")
    scored = documents.select("doc_id", "lang").join(lm, "doc_id")
    hist = scored.groupBy("lang", "lm_bp").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("lm_bp")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "lang",
        "lm_bp",
        (F.sum("c").over(w) - F.col("c")).alias("cum"),
        F.sum("c").over(
            Window.partitionBy("lang").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    buckets = cum.select(
        "lang",
        "lm_bp",
        F.expr(
            "CASE WHEN 3 * cum < n THEN 'head'"
            " WHEN 3 * cum < 2 * n THEN 'middle' ELSE 'tail' END"
        ).alias("bucket"),
    )
    return scored.join(F.broadcast(buckets), ["lang", "lm_bp"]).select(
        "doc_id", "lang", F.col("lm_bp").cast("long").alias("lm_bp"), "bucket"
    )


def gopher_rules(documents: DataFrame) -> DataFrame:
    """Gopher-paper quality-rule signals and the combined keep verdict.

    The published Gopher/MassiveText repetition-free document filters
    (Rae et al. 2021, table A1), each as an exact-integer signal so the
    verdict hashes identically to the SQL oracle:

    - ``n_words`` — whitespace tokens; cut outside [50, 100_000].
    - ``mean_wl_bp`` — mean word length in milli-chars; cut outside
      [3000, 10000] (3..10 chars).
    - ``symbol_bp`` — ('#' chars + ellipsis sequences) per 1000 words;
      cut above 100.
    - ``bullet_bp`` / ``ellipsis_bp`` — fraction of non-blank lines
      starting with a bullet / ending with an ellipsis, in bp of lines;
      cut above 900 / 300.
    - ``alpha_bp`` — fraction of words containing an alphabetic char;
      cut below 800.
    - ``stop_hits`` — how many of the 5 required stopwords (the, be,
      to, of, and) appear; cut below 2.

    All whole-stage-codegen expressions (split / filter / aggregate /
    regexp counts + integer div) — zero shuffles, the filter runs at scan
    speed and the verdict column is what a curation pass feeds to a
    WHERE clause. Thresholds mirror the paper; they are encoded here (not
    parameters) so the keep column is a stable, oracle-checkable contract.
    """
    toks = "filter(split(lower(text), '\\\\s+'), x -> x <> '')"
    lines = "filter(split(text, '\\n'), l -> trim(l) <> '')"
    base = documents.select(
        "doc_id",
        F.expr(f"size({toks})").cast("long").alias("n_words"),
        F.expr(
            f"aggregate({toks}, CAST(0 AS BIGINT), (a, x) -> a + length(x))"
        ).alias("sum_wl"),
        (
            F.length(F.regexp_replace("text", r"[^#]", ""))
            + F.size(F.regexp_extract_all("text", F.lit(r"(\.\.\.|…)"), F.lit(0)))
        ).cast("long").alias("n_symbols"),
        F.expr(f"size({lines})").cast("long").alias("n_lines"),
        F.expr(
            f"size(filter({lines}, l -> ltrim(l) RLIKE '^[-*•]'))"
        ).cast("long").alias("n_bullet"),
        F.expr(
            f"size(filter({lines}, l -> rtrim(l) RLIKE '(\\\\.\\\\.\\\\.|…)$'))"
        ).cast("long").alias("n_ellipsis"),
        F.expr(
            f"size(filter({toks}, x -> x RLIKE '[a-z]'))"
        ).cast("long").alias("n_alpha"),
        (
            F.expr("CASE WHEN lower(text) RLIKE '\\\\bthe\\\\b' THEN 1 ELSE 0 END")
            + F.expr("CASE WHEN lower(text) RLIKE '\\\\bbe\\\\b' THEN 1 ELSE 0 END")
            + F.expr("CASE WHEN lower(text) RLIKE '\\\\bto\\\\b' THEN 1 ELSE 0 END")
            + F.expr("CASE WHEN lower(text) RLIKE '\\\\bof\\\\b' THEN 1 ELSE 0 END")
            + F.expr("CASE WHEN lower(text) RLIKE '\\\\band\\\\b' THEN 1 ELSE 0 END")
        ).cast("long").alias("stop_hits"),
    )
    bp = base.select(
        "doc_id",
        "n_words",
        F.expr(
            "CASE WHEN n_words > 0 THEN (1000 * sum_wl) DIV n_words ELSE 0 END"
        ).alias("mean_wl_bp"),
        F.expr(
            "CASE WHEN n_words > 0 THEN (1000 * n_symbols) DIV n_words ELSE 0 END"
        ).alias("symbol_bp"),
        F.expr(
            "CASE WHEN n_lines > 0 THEN (1000 * n_bullet) DIV n_lines ELSE 0 END"
        ).alias("bullet_bp"),
        F.expr(
            "CASE WHEN n_lines > 0 THEN (1000 * n_ellipsis) DIV n_lines ELSE 0 END"
        ).alias("ellipsis_bp"),
        F.expr(
            "CASE WHEN n_words > 0 THEN (1000 * n_alpha) DIV n_words ELSE 0 END"
        ).alias("alpha_bp"),
        "stop_hits",
    )
    keep = (
        "n_words BETWEEN 50 AND 100000 AND mean_wl_bp BETWEEN 3000 AND 10000"
        " AND symbol_bp <= 100 AND bullet_bp <= 900 AND ellipsis_bp <= 300"
        " AND alpha_bp >= 800 AND stop_hits >= 2"
    )
    return bp.withColumn("keep", F.expr(keep))


def inverted_index(documents: DataFrame, max_df: int = 100) -> DataFrame:
    """Bounded inverted index: per term df, cf, and a posting list capped
    by document frequency.

    The search-side artifact of a crawl. Per lowercase whitespace term:
    ``df`` (documents containing it), ``cf`` (total occurrences), and for
    COLD terms (df <= ``max_df``) the sorted posting list as a
    comma-joined doc_id string; HOT terms (stopword-class) keep their
    stats but ``capped=true`` and a NULL posting list — the same explicit
    hot-key cap as ngram_jaccard/winnow_pairs (a posting list for 'the'
    is |corpus| long and useless; real engines tier those into skip
    lists, out of scope here).

    Scale shape: explode -> partial->final count keyed on (term, doc) ->
    stats keyed on term (map-side partial aggregation absorbs hot terms)
    -> posting collect_list bounded by max_df after a keyed semi-join.
    No unbounded per-group state anywhere.
    """
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    base = (
        documents.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    stats = base.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    cold = stats.filter(F.col("df") <= max_df).select("term")
    postings = (
        base.join(cold, "term")
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return (
        stats.join(postings, "term", "left")
        .select(
            "term",
            "df",
            "cf",
            (F.col("df") > max_df).alias("capped"),
            "postings",
        )
    )


def novelty_scores(documents: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, n_shingles, n_unique, novelty_bp): per-document share of
    shingles that appear NOWHERE else in the corpus, in basis points.

    The inverse-boilerplate signal: mirror pages, templated listings, and
    syndicated wire copy score near 0; original prose scores near 10000.
    Curation uses it directly as a keep-weight and as the pre-filter that
    keeps near-dup detection cheap (low-novelty docs are the dup
    suspects). Integer bp (10000 * unique DIV total), no floats.

    Scale shape: per-doc distinct shingles from the one posexplode+window
    pass (doc_shingles); corpus df per shingle is one partial->final count
    keyed on shingle; the uniqueness join back is keyed on shingle with
    the df relation pre-filtered to df = 1 — the join's build side only
    carries unique shingles, and the per-doc rollup reuses the doc_id
    partitioning. A doc with no shingles (< k tokens) reports 0 bp over 0
    shingles.
    """
    from crawler_spark.pipeline.dedup import doc_shingles

    sh = doc_shingles(documents, k)
    uniq = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") == 1)
        .select("shingle")
    )
    per_doc = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_shingles"))
    per_uniq = (
        sh.join(uniq, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_unique"))
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(per_uniq, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
            F.expr(
                "CASE WHEN coalesce(n_shingles, 0) > 0"
                " THEN (10000 * coalesce(n_unique, CAST(0 AS BIGINT))) DIV n_shingles"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("novelty_bp"),
        )
    )


def countmin_probe(
    documents: DataFrame, depth: int = 4, width: int = 1024, probe_k: int = 20
) -> DataFrame:
    """Count-min sketch of token frequencies + an accuracy probe:
    (tok, true_n, est_n, overcount) for the probe_k most frequent tokens.

    The sketch is THE bounded-memory structure for heavy-hitter counting
    at 100 TB: depth x width integer counters (4 KiB-scale) regardless of
    vocabulary size, mergeable across partitions by plain addition —
    exactly what a partial->final Spark aggregation does. Hashes are
    md5-derived (row j, column = md5(j:tok) mod width), so the sketch and
    its estimates are deterministic and engine-portable; est_n >= true_n
    always (one-sided error), and the probe quantifies the overcount on
    the tokens that matter (the heavy hitters the sketch exists to find).

    Scale shape: one explode -> partial->final count keyed on (row, col)
    — output cardinality depth*width, CONSTANT in corpus size; the true
    counts for the probe come from the (tok) aggregation the heavy-hitter
    window needs anyway (top-k over the aggregated relation); estimates
    join the tiny probe set against the tiny sketch (both broadcast-class).
    """
    from crawler_spark.pipeline.dedup import tokens_col

    inst = documents.select(F.explode(tokens_col()).alias("tok"))

    def col_of(j, tok_col):
        return F.expr(
            f"CAST(conv(substring(md5(concat('{j}:', {tok_col})), 1, 8), 16, 10) AS BIGINT) % {width}"
        )

    rows = inst.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), col_of(j, "tok").alias("c"))
                    for j in range(depth)
                ]
            )
        ).alias("rc")
    ).select("rc.j", "rc.c")
    sketch = rows.groupBy("j", "c").agg(F.count("*").cast("long").alias("n"))

    true_counts = inst.groupBy("tok").agg(F.count("*").cast("long").alias("true_n"))
    # top-k as a sort-limit (TakeOrderedAndProject): a global rank window
    # here would funnel the whole vocabulary through one partition
    probe = true_counts.orderBy(F.desc("true_n"), F.asc("tok")).limit(probe_k)
    cells = probe.select(
        "tok",
        "true_n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), col_of(j, "tok").alias("c"))
                    for j in range(depth)
                ]
            )
        ).alias("rc"),
    ).select("tok", "true_n", "rc.j", "rc.c")
    return (
        cells.join(sketch, ["j", "c"])
        .groupBy("tok", "true_n")
        .agg(F.min("n").cast("long").alias("est_n"))
        .select(
            "tok", "true_n", "est_n", (F.col("est_n") - F.col("true_n")).alias("overcount")
        )
    )


def profile_table(documents: DataFrame) -> DataFrame:
    """(column, n_rows, n_null, n_distinct, min_s, max_s) — the data-quality
    profile (Deequ-style) of the documents table, values rendered as
    strings so one schema covers every column type.

    The audit every ingestion step runs before trusting a table: null
    pressure, key uniqueness (n_distinct == n_rows on doc_id), value
    ranges. One pass: a single aggregation computes every column's
    metrics side by side (Spark evaluates them in the same partial->final
    aggregate — no per-column scans), then the fixed-width result is
    unpivoted driver-free with a stack() projection. Output cardinality =
    #columns; nothing here grows with the table.
    """
    cols = documents.columns
    aggs = [F.count("*").cast("long").alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).cast("long").alias(f"{c}__nd"),
            F.min(F.col(c).cast("string")).alias(f"{c}__mn"),
            F.max(F.col(c).cast("string")).alias(f"{c}__mx"),
        ]
    one = documents.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS (column, n_null, n_distinct, min_s, max_s)",
        "_n AS n_rows",
    ).select("column", "n_rows", "n_null", "n_distinct", "min_s", "max_s")


def cooccurrence_topk(
    documents: DataFrame, w: int = 2, min_count: int = 5, top: int = 100
) -> DataFrame:
    """(tok_a, tok_b, n_pair, n_a, n_b, pmi_bits): top co-occurring token
    pairs within a ``w``-token forward window, with an integer PMI
    surrogate — the count matrix word-embedding training starts from.

    Pairs come from the SAME posexplode + lead() window construction as
    shingling (one keyed sort per doc, w leads per position — bounded
    fan-out, NO self-join of token instances, which would square on
    repeated tokens). PMI = log p(a,b)/(p(a)p(b)) is floats; the surrogate
    is the bit-length of the integer ratio ((T div n_a) * n_pair) div n_b
    (T = corpus token instances) — the division order is fixed so both
    engines agree exactly, and the value is monotone in true PMI up to
    floor granularity (headroom: avoids the T*n_pair product, which
    overflows int64 at corpus scale).

    Scale shape: pair counts are one partial->final aggregation keyed on
    (tok_a, tok_b); unigram counts on tok; the min_count filter prunes the
    long tail BEFORE the unigram joins; final output is a sort-limit
    (TakeOrderedAndProject) of the surviving pairs.
    """
    from pyspark.sql import Window

    from crawler_spark.pipeline.dedup import tokens_col

    tok = documents.select("doc_id", F.posexplode(tokens_col()).alias("pos", "t"))
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    pairs = None
    for j in range(1, w + 1):
        p = tok.select(
            F.col("t").alias("tok_a"), F.lead("t", j).over(wnd).alias("tok_b")
        ).filter(F.col("tok_b").isNotNull())
        pairs = p if pairs is None else pairs.unionByName(p)
    pc = (
        pairs.groupBy("tok_a", "tok_b")
        .agg(F.count("*").cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    uni = tok.groupBy(F.col("t").alias("tok")).agg(
        F.count("*").cast("long").alias("n")
    )
    total = tok.select(F.count("*").cast("long").alias("t_corpus"))
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b"))
    return (
        pc.join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(total)
        .withColumn(
            "pmi_bits",
            F.length(
                F.bin(F.expr("((t_corpus div n_a) * n_pair) div n_b + 1"))
            ).cast("int"),
        )
        .select("tok_a", "tok_b", "n_pair", "n_a", "n_b", "pmi_bits")
        .orderBy(F.desc("n_pair"), "tok_a", "tok_b")
        .limit(top)
    )


def quantile_sketch(documents: DataFrame, qs: tuple[int, ...] = (50, 90, 99)) -> DataFrame:
    """(q, bucket, upper_bound, cum_count, total): approximate quantiles of
    document length from a mergeable log2-bucketed histogram — the
    constant-memory quantile sketch a 100 TB profiler uses instead of an
    exact global sort.

    bucket = bit_length(n_chars) (= length of the binary rendering, an
    exact integer both engines compute identically — no float log2, whose
    representation error flips buckets at exact powers of two). The
    histogram is ONE partial->final aggregation into <= 64 rows; it is
    mergeable across shards/days by simple addition, and any quantile is
    answered from the tiny result: the q-th percentile's bucket is the
    smallest bucket whose cumulative count reaches q% of total, reported
    with its inclusive value upper bound 2^bucket - 1 (the sketch's error
    contract: true quantile is within one power of two).

    Shape: histogram aggregation (shuffle of <= 64 rows), then cumulative
    counts via a <=64 x <=64 bucket self-join — NO unpartitioned window,
    NO driver collect; the quantile probe is a 3-row broadcast cross join.
    """
    hist = (
        documents.select(
            F.length(F.bin(F.greatest(F.col("n_chars").cast("long"), F.lit(0))))
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
    lo = hist.select(F.col("bucket").alias("_b"), F.col("n").alias("_n"))
    cum = (
        hist.join(lo, F.col("_b") <= F.col("bucket"))
        .groupBy("bucket")
        .agg(F.sum("_n").cast("long").alias("cum_count"))
    )
    total = hist.agg(F.sum("n").cast("long").alias("total"))
    spec = documents.sparkSession.createDataFrame(
        [(int(q),) for q in qs], "q int"
    )
    return (
        cum.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(spec))
        .filter(F.col("cum_count") * 100 >= F.col("q") * F.col("total"))
        .groupBy("q", "total")
        .agg(
            F.min("bucket").cast("int").alias("bucket"),
            F.min_by("cum_count", "bucket").cast("long").alias("cum_count"),
        )
        .withColumn(
            "upper_bound",
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), bucket) - 1 AS BIGINT)"),
        )
        .select("q", "bucket", "upper_bound", "cum_count", "total")
    )


# Default BPE merge table for bpe_encode: ordered (left, right) symbol
# pairs, applied exhaustively in sequence exactly like a learned
# tokenizer's merges.txt (the first merges any English BPE run learns).
# Rules are DATA: a real tokenizer's merge list drops in unchanged.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "u"), ("s", "t"),
)


def bpe_train(documents: DataFrame, n_merges: int = 6) -> DataFrame:
    """(rk, pair, n): the full iterative BPE TRAINING loop — ``n_merges``
    rounds of (count adjacent symbol pairs over the word-frequency table,
    take the argmax, apply the merge corpus-wide), returning the ordered
    merge table that ``bpe_encode`` applies. ``bpe_pair_counts`` is one
    iteration of this loop; this is the train-to-vocab-size driver loop
    (reference has no tokenizer — this is LLM-pipeline surface).

    Scale shape: the corpus collapses ONCE to the (word, count) vocab
    relation — the only corpus-sized pass. Each iteration then runs on
    the vocab table: symbols are rendered parenthesized (``the`` ->
    ``(t)(h)(e)``) so a merge (a,b) is one literal
    ``replace('(a)(b)' -> '(ab)')`` (exact leftmost-greedy BPE, see
    bpe_encode); adjacent pairs come from a regexp symbol split + an
    index-shifted transform, weighted by word count. The per-iteration
    argmax is a 1-ROW collect (the next merge must be known to build the
    next plan — same driver-loop shape as the k-means centroid step), and
    the vocab is localCheckpoint'ed per iteration so plan/lineage stay
    constant across iterations. Ties rank (n desc, pair asc): total
    order, engine-independent.
    """
    words = documents.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"[^a-z]+"), lambda t: t != ""
            )
        ).alias("w"),
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("tc"))
        .select(
            F.regexp_replace(F.col("w"), r"(.)", r"($1)").alias("sym"), "tc"
        )
        .localCheckpoint()
    )
    merges: list[tuple[int, str, int]] = []
    for i in range(1, n_merges + 1):
        pairs = vocab.select(
            "tc",
            F.regexp_extract_all(
                "sym", F.lit(r"\(([a-z]+)\)"), 1
            ).alias("sa"),
        ).filter(
            # sequence(1, 0) would generate DESCENDING [1, 0]: 1-symbol
            # words must not reach the transform
            F.size("sa") >= 2
        ).select(
            "tc",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(sa) - 1),"
                    " i -> concat(sa[i - 1], ' ', sa[i]))"
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("tc").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, n = top[0]["pair"], int(top[0]["n"])
        a, b = pair.split(" ")
        merges.append((i, pair, n))
        vocab = vocab.withColumn(
            "sym", F.replace("sym", F.lit(f"({a})({b})"), F.lit(f"({a}{b})"))
        ).localCheckpoint()
    spark = documents.sparkSession
    return spark.createDataFrame(merges, "rk int, pair string, n long")


def bpe_train_batched(
    documents: DataFrame,
    n_merges: int = 64,
    probe: int = 512,
    stats: dict | None = None,
) -> DataFrame:
    """(rk, pair, n): EXACTLY ``bpe_train(documents, n_merges)`` — same
    merge table, same order, same counts — in far fewer vocab scans, by
    accepting a BATCH of provably-order-equivalent merges per pair-count
    aggregation. This is the production shape: at 64+ merges the
    one-argmax-per-scan loop pays one Spark job per merge; real tokenizer
    training (tens of thousands of merges) needs many merges per scan.

    Why the batch is exact, not approximate: walk the pair counts in the
    sequential loop's total order (n DESC, pair ASC). Applying an accepted
    merge (a,b) can only change counts of pairs SHARING a symbol with it —
    disjoint pairs keep their exact counts (an occurrence "x a b y" turns
    (x,a),(a,b),(b,y) into (x,ab),(ab,y); no adjacency between symbols
    outside {a,b} is created or destroyed) — and every pair it creates or
    modifies is count-bounded by some ORIGINAL pair touching {a,b}
    (n(x,ab) <= n(x,a), n(ab,y) <= n(b,y), shrunk pairs <= their
    originals). So while walking, track ``used`` (symbols of accepted
    merges) and ``barrier`` (max original count over already-walked pairs
    touching ``used``). A disjoint candidate with count n is exactly what
    the sequential loop would pick next iff n is STRICTLY above every
    touching pair's original count — three checks, because touching pairs
    sit anywhere in the total order: n > barrier (touching pairs walked
    before it), no touching pair inside the candidate's own tie group
    later in the prefix (same n, sorted after it — its derived pair could
    tie at n and win the pair-ASC tie-break: measured on the test corpus,
    merging (c,o) creates (co,lu) at the SAME 978 count as the touching
    (o,lu) that bounds it), and n > n_tail when the collected prefix may
    be truncated (an uncollected touching pair could tie). Strictness
    everywhere because a derived pair reaching equality wins or loses on
    the pair string, which this side cannot predict. The first pair of
    each scan is the global argmax and always accepted; at the first
    rejection the batch ends (order beyond needs a recount). Batch merges
    are symbol-disjoint, so the chained literal replaces commute and one
    withColumn pass equals sequential application.

    Scale shape: identical per-scan work to ``bpe_train`` (one vocab-keyed
    aggregation; the corpus collapsed once up front), but the driver
    round-trips collect ``probe`` rows instead of 1 and the scan count is
    sub-linear in n_merges (measured ~6-10 merges/scan on prose corpora —
    SCALE.md). ``stats``, if given, records {"scans": k} as the
    measurement hook.
    """
    words = documents.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"[^a-z]+"), lambda t: t != ""
            )
        ).alias("w"),
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("tc"))
        .select(
            F.regexp_replace(F.col("w"), r"(.)", r"($1)").alias("sym"), "tc"
        )
        .localCheckpoint()
    )
    merges: list[tuple[int, str, int]] = []
    scans = 0
    while len(merges) < n_merges:
        pairs = vocab.select(
            "tc",
            F.regexp_extract_all(
                "sym", F.lit(r"\(([a-z]+)\)"), 1
            ).alias("sa"),
        ).filter(F.size("sa") >= 2).select(
            "tc",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(sa) - 1),"
                    " i -> concat(sa[i - 1], ' ', sa[i]))"
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("tc").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(probe)
            .collect()
        )
        scans += 1
        if not top:
            break
        # counts <= n_tail may be beaten by an uncollected tied pair's
        # derived pairs; only a full (untruncated) collect lifts the bound
        n_tail = int(top[-1]["n"]) if len(top) == probe else -1
        used: set[str] = set()
        barrier = -1
        batch: list[tuple[str, int]] = []
        for i, row in enumerate(top):
            pair, n = row["pair"], int(row["n"])
            a, b = pair.split(" ")
            if a in used or b in used:
                barrier = max(barrier, n)
                continue
            if batch:
                if n <= max(barrier, n_tail):
                    break
                # a touching pair tied at n but sorted AFTER the candidate
                # is not in barrier yet — scan the candidate's tie group
                tie_blocked = False
                for row2 in top[i + 1:]:
                    if int(row2["n"]) < n:
                        break
                    a2, b2 = row2["pair"].split(" ")
                    if a2 in used or b2 in used:
                        tie_blocked = True
                        break
                if tie_blocked:
                    break
            batch.append((pair, n))
            used.update((a, b))
            if len(merges) + len(batch) >= n_merges:
                break
        for pair, n in batch:
            merges.append((len(merges) + 1, pair, n))
        sym = F.col("sym")
        for pair, _ in batch:
            a, b = pair.split(" ")
            sym = F.replace(sym, F.lit(f"({a})({b})"), F.lit(f"({a}{b})"))
        vocab = vocab.withColumn("sym", sym).localCheckpoint()
    if stats is not None:
        stats["scans"] = scans
    spark = documents.sparkSession
    return spark.createDataFrame(merges, "rk int, pair string, n long")


def bpe_encode(
    documents: DataFrame, merges: tuple[tuple[str, str], ...] = BPE_MERGES
) -> DataFrame:
    """(doc_id, n_words, n_chars_az, n_symbols, compression_bp): apply an
    ordered BPE merge table to every word and count the resulting symbols
    — the tokenizer-APPLICATION step (bpe_pair_counts is the training
    step; this is what a 100 TB pipeline runs on every document to cost
    sequences for packing).

    Wholly inside whole-stage codegen — no UDF, no per-row Python. Each
    word is rendered with every symbol parenthesized (``the`` ->
    ``(t)(h)(e)``; the alphabet is [a-z] so the parens cannot collide),
    and each merge (a,b) is ONE literal ``replace('(a)(b)' -> '(ab)')``:
    left-to-right non-overlapping replacement over the delimited rendering
    is exactly BPE's exhaustive leftmost merge application (a replacement
    never fabricates a new occurrence of its own pattern: '(ab)' neither
    ends in '(a)' nor starts with '(b)'). Symbol count = count of '('.

    Shape: words explode per doc (bounded by doc length), M chained
    literal replaces (plan size O(M), M = len(merges) — a constant), one
    partial->final re-aggregation keyed on doc_id. compression_bp =
    10000*n_symbols/n_chars_az, exact integer division.
    """
    words = documents.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"[^a-z]+"), lambda t: t != ""
            )
        ).alias("w"),
    )
    sym = F.regexp_replace(F.col("w"), r"(.)", r"($1)")
    for a, b in merges:
        sym = F.replace(sym, F.lit(f"({a})({b})"), F.lit(f"({a}{b})"))
    enc = words.select(
        "doc_id",
        F.length("w").cast("long").alias("_chars"),
        (F.length(sym) - F.length(F.replace(sym, F.lit("("), F.lit("")))).cast(
            "long"
        ).alias("_syms"),
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("_chars").cast("long").alias("n_chars_az"),
            F.sum("_syms").cast("long").alias("n_symbols"),
        )
        .withColumn(
            "compression_bp",
            F.expr("CAST(10000 * n_symbols div greatest(n_chars_az, 1) AS BIGINT)"),
        )
    )


def dup_ngram_coverage(documents: DataFrame, n: int = 8) -> DataFrame:
    """(doc_id, canon_chars, dup_chars, coverage_bp): fraction of each
    document's characters covered by word ``n``-grams that also appear in
    ANOTHER document — the RefinedWeb/MassiveWeb duplicated-n-gram metric,
    and the scalable proxy for suffix-array exact-substring dedup (Lee et
    al. 2022): a high-coverage doc is boilerplate or a near-copy even when
    minhash misses it.

    Offsets are over the canonical space-joined token string (both engines
    reconstruct it identically, so the measure is whitespace-insensitive).
    Covered length is the INTERVAL UNION of all duplicated-gram spans
    (overlapping grams are not double counted): the classic island sweep —
    running max(end) over start-ordered intervals per doc, new island when
    a span starts past it, island length = max(end) - min(start).

    Shape: gram instances are the usual posexplode + lead chain (one keyed
    sort per doc, no token self-join); the cross-doc signal is one
    partial->final df aggregation keyed on gram; instances semi-join the
    df>=2 grams (broadcast-able: duplicated grams are the rare tail by
    construction after dedup); the sweep is two windows partitioned by
    doc_id. Nothing is keyed on anything hotter than a single document.
    """
    from pyspark.sql import Window

    toks = documents.select(
        "doc_id", F.posexplode(tokens_col()).alias("pos", "t")
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    off = F.coalesce(
        F.sum(F.length("t") + 1).over(
            wnd.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    ).cast("long")
    parts = [F.col("t")] + [F.lead("t", j).over(wnd) for j in range(1, n)]
    grams = toks.select(
        "doc_id",
        off.alias("start"),
        F.concat_ws(" ", *parts).alias("gram"),
        F.lead("t", n - 1).over(wnd).isNotNull().alias("_full"),
    ).filter(F.col("_full"))
    spans = grams.select(
        "doc_id", "start", (F.col("start") + F.length("gram")).alias("end"), "gram"
    )
    dup = (
        spans.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .filter(F.col("_df") >= 2)
        .select("gram")
    )
    hits = spans.join(dup, "gram", "left_semi")
    sweep = Window.partitionBy("doc_id").orderBy("start", "end")
    prev_max = F.max("end").over(sweep.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        hits.withColumn(
            "_new", F.when(F.col("start") > F.coalesce(prev_max, F.lit(-1)), 1).otherwise(0)
        )
        .withColumn("_isl", F.sum("_new").over(sweep))
        .groupBy("doc_id", "_isl")
        .agg((F.max("end") - F.min("start")).alias("_cov"))
        .groupBy("doc_id")
        .agg(F.sum("_cov").cast("long").alias("dup_chars"))
    )
    canon = toks.groupBy("doc_id").agg(
        (F.sum(F.length("t")) + F.count("*") - 1).cast("long").alias("canon_chars")
    )
    return (
        canon.join(islands, "doc_id", "left")
        .withColumn("dup_chars", F.coalesce(F.col("dup_chars"), F.lit(0)))
        .withColumn(
            "coverage_bp",
            F.expr("CAST(10000 * dup_chars div greatest(canon_chars, 1) AS BIGINT)"),
        )
    )


def exact_substring_dedup(documents: DataFrame, n: int = 8) -> DataFrame:
    """(doc_id, n_removed_spans, removed_chars, clean_text): exact
    duplicate-substring REMOVAL at word-``n``-gram granularity — the
    transform counterpart of ``dup_ngram_coverage`` (which only measures).
    Every corpus-wide occurrence of a duplicated n-gram except the FIRST
    (global (doc_id, start) order, within-doc repeats included) has its
    character span cut out of the canonical space-joined token rendering;
    overlapping cuts merge (interval-union islands), so what is removed is
    maximal duplicated regions — the n-gram-resolution analog of Lee et
    al. 2022 suffix-array exact-substring dedup (ExactSubstr), which this
    engine deliberately approximates at shuffle-friendly granularity (a
    distributed suffix array is noted out of scope in SCALE.md).

    Scale shape: gram spans are the posexplode + lead chain (keyed per
    doc); the keeper is a partial->final ``min(struct(doc_id, start))``
    aggregation keyed on gram — skew-safe for boilerplate grams with 10^6
    occurrences (map-side combine, no window over the gram group) — and
    occurrences join back 1 keeper row per gram (AQE handles the hot-key
    partition imbalance). Island sweep + complement slicing are windows
    partitioned by doc_id; clean text reassembles via array_sort over the
    per-doc kept pieces (bounded by islands per doc). No pair joins, no
    df caps needed — removal never goes quadratic.
    """
    from pyspark.sql import Window

    toks = documents.select(
        "doc_id", F.posexplode(tokens_col()).alias("pos", "t")
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    off = F.coalesce(
        F.sum(F.length("t") + 1).over(
            wnd.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    ).cast("long")
    parts = [F.col("t")] + [F.lead("t", j).over(wnd) for j in range(1, n)]
    spans = (
        toks.select(
            "doc_id",
            off.alias("start"),
            F.concat_ws(" ", *parts).alias("gram"),
            F.lead("t", n - 1).over(wnd).isNotNull().alias("_full"),
        )
        .filter(F.col("_full"))
        .select(
            "doc_id", "start",
            (F.col("start") + F.length("gram")).cast("long").alias("end"),
            "gram",
        )
    )
    docs_c = documents.select(
        "doc_id", F.array_join(tokens_col(), " ").alias("body")
    ).withColumn("clen", F.length("body").cast("long"))
    return _cut_spans(docs_c, spans)


def _cut_spans(docs_body: DataFrame, spans: DataFrame) -> DataFrame:
    """Shared removal machinery for the exact-substring dedup family
    (word-gram and byte-gram variants): given per-doc bodies
    ``(doc_id, body, clen)`` and candidate gram spans
    ``(doc_id, start, end, gram)``, cut every non-FIRST corpus-wide
    occurrence of each duplicated gram (global (doc_id, start) order,
    within-doc repeats included), merge overlapping cuts into maximal
    islands, and rebuild ``(doc_id, n_removed_spans, removed_chars,
    clean_text)``. Scale shape as documented on the callers: min-struct
    keeper agg (map-side combine, skew-safe), 1-keeper-row join back,
    doc-keyed island sweep + complement slicing windows."""
    from pyspark.sql import Window

    keeper = spans.groupBy("gram").agg(
        F.min(F.struct("doc_id", "start")).alias("_k"),
        F.count("*").alias("_occ"),
    )
    removals = (
        spans.join(keeper.filter(F.col("_occ") >= 2), "gram")
        .filter(
            (F.col("doc_id") != F.col("_k.doc_id"))
            | (F.col("start") != F.col("_k.start"))
        )
        .select("doc_id", "start", "end")
    )
    sweep = Window.partitionBy("doc_id").orderBy("start", "end")
    prev_max = F.max("end").over(sweep.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        removals.withColumn(
            "_new",
            F.when(F.col("start") > F.coalesce(prev_max, F.lit(-1)), 1).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(sweep))
        .groupBy("doc_id", "_isl")
        .agg(
            F.min("start").cast("long").alias("isl_s"),
            F.max("end").cast("long").alias("isl_e"),
        )
        .select("doc_id", "isl_s", "isl_e", F.lit(False).alias("_sentinel"))
    )
    # one sentinel island at (clen, clen) per doc closes the complement:
    # the piece BEFORE each island (prev island end -> this island start)
    # enumerates every kept segment including the tail
    marks = islands.unionByName(
        docs_body.select(
            "doc_id",
            F.col("clen").alias("isl_s"),
            F.col("clen").alias("isl_e"),
            F.lit(True).alias("_sentinel"),
        )
    )
    mw = Window.partitionBy("doc_id").orderBy("isl_s", "isl_e")
    prev_e = F.coalesce(F.lag("isl_e").over(mw), F.lit(0))
    pieces = marks.withColumn("_prev_e", prev_e).join(docs_body, "doc_id").select(
        "doc_id", "isl_s", "isl_e", "_sentinel",
        F.expr(
            "substring(body, CAST(_prev_e + 1 AS INT),"
            " CAST(isl_s - _prev_e AS INT))"
        ).alias("piece"),
    )
    return pieces.groupBy("doc_id").agg(
        F.sum(F.when(~F.col("_sentinel"), 1).otherwise(0))
        .cast("long").alias("n_removed_spans"),
        F.sum(F.when(~F.col("_sentinel"), F.col("isl_e") - F.col("isl_s")).otherwise(0))
        .cast("long").alias("removed_chars"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("isl_s", "isl_e", "piece"))),
                lambda x: x["piece"],
            ),
            "",
        ).alias("clean_text"),
    )


def exact_substring_dedup_bytes(
    documents: DataFrame, n: int = 50, hash_keys: bool = False
) -> DataFrame:
    """(doc_id, n_removed_spans, removed_chars, clean_text): exact
    duplicate-substring removal at BYTE (character) granularity — the
    full-resolution Lee et al. 2022 ExactSubstr semantics, closing the
    gram-boundary rounding the word-n-gram variant
    (``exact_substring_dedup``) accepts. A character ``n``-gram is taken
    at EVERY offset of the raw text; every corpus-wide occurrence of a
    duplicated gram except the first (global (doc_id, start) order,
    within-doc repeats included) is cut, overlapping cuts merging into
    maximal islands — so any duplicated run of length L >= n is removed
    from all but its first occurrence exactly (its L-n+1 overlapping
    grams union into one island), with boundaries exact to the
    character, not the word.

    Scale shape — and the honest cost difference from the paper: the
    reference algorithm builds a single-node suffix array, which
    enumerates duplicated substrings implicitly but cannot shard past
    one machine's memory; this operator materializes the candidate set
    explicitly as O(total bytes) span rows — embarrassingly parallel
    (one shuffle keyed on gram with a map-side-combined min-struct
    keeper agg; islands and slicing are doc-keyed windows; nothing
    quadratic, nothing global). At 100 TB the span relation is ~10^14
    narrow rows, the real price of exactness at byte resolution;
    production mitigations (documented, not silently applied): (a) key
    the shuffle on xxhash64(gram) instead of the gram text — shuffle
    width drops to 8 bytes/row at a ~2^-64 per-pair collision risk;
    (b) winnowing-style minimizer sampling of offsets (the
    ``dedup_winnow`` scheme): selecting the minimal gram hash per
    (w)-window at both copies of any duplicated run >= n+w picks the
    SAME offsets, so candidate density drops to ~2/(w+1) while any run
    >= n+w-1 is still caught — recovering near-word-gram cost with
    byte-exact boundaries on everything long enough to matter.
    Mitigation (a) is SHIPPED here as ``hash_keys=True``: the keeper
    shuffle and join key the 8-byte ``xxhash64(gram)`` instead of the
    n-char gram text (tested result-identical on the test corpora —
    a collision would need two distinct n-grams sharing a 64-bit hash);
    it stays opt-in because the raw-gram default is what the DuckDB
    oracle replays exactly, with zero probabilistic caveat. The
    default n=50 is the paper's removal threshold; the gated query runs
    n=40 so the stage is active on the synthetic corpus.
    """
    body = documents.select("doc_id", F.col("text").alias("body")).withColumn(
        "clen", F.length("body").cast("long")
    )
    spans = (
        body.filter(F.col("clen") >= int(n))
        .select(
            "doc_id",
            "body",
            F.explode(
                F.expr(f"sequence(0, length(body) - {int(n)})")
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s").cast("long").alias("start"),
            (F.col("s") + int(n)).cast("long").alias("end"),
            F.expr(f"substring(body, s + 1, {int(n)})").alias("gram"),
        )
    )
    if hash_keys:
        spans = spans.withColumn("gram", F.xxhash64("gram"))
    return _cut_spans(body.select("doc_id", "body", "clen"), spans)


def exact_substring_dedup_winnow(
    documents: DataFrame, n: int = 50, w: int = 8
) -> DataFrame:
    """(doc_id, n_removed_spans, removed_chars, clean_text): byte-level
    exact-substring removal with WINNOWING-SAMPLED candidates — the
    scale path ``exact_substring_dedup_bytes`` documents, shipped: the
    keeper shuffle carries only each window's minimizer gram instead of
    every offset, dropping shuffled candidate density to ~2/(w+1) while
    keeping a hard detection guarantee.

    Selection rule (classic winnowing, Schleimer et al. 2003): over the
    every-offset char-``n``-gram sequence, every window of ``w``
    consecutive offsets selects its (hash, offset)-argmin; the selected
    spans then run the shared keeper/island/cut machinery
    (``_cut_spans``). The hash is the first 8 hex chars of md5(gram) —
    32 bits, ENGINE-PORTABLE, so the DuckDB oracle replays the exact
    selection; argmin is one struct ``min((h, offset))`` per window
    (lexicographic (h, offset): hash ties break to the leftmost offset,
    so the decision is content-relative, as the guarantee needs; no
    per-document length limit).

    Guarantees (and the one trade): selection of an offset depends only
    on the gram hashes within w-1 positions either side, so two copies
    of any duplicated run of length >= n + w - 1 select IDENTICAL
    relative offsets everywhere the dependency window sits inside the
    run — every such run is DETECTED (a fully-interior window exists),
    and its interior is cut exactly; what is sampled away is up to
    ~(w + n) chars of slack at each END of the run (edge windows see
    differing context between copies). Runs shorter than n + w - 1 may
    be missed entirely. Every removal the sampled pass makes, the
    full-resolution pass also makes (selected spans are a subset of all
    spans and a gram's global occurrence count can only drop) — pinned
    as a containment property test.

    Scale shape: the every-offset explode and both selection windows
    are doc-keyed (map-side after one repartition by doc); ONLY the
    ~2/(w+1)-density selected spans enter the gram-keyed keeper
    shuffle — at 100 TB that is the difference between shuffling
    10^14 rows and ~10^13 at w=8, with byte-exact interior boundaries
    preserved. Reference analog: none (beyond the crawler's scope);
    public algorithm, cited above.
    """
    from pyspark.sql import Window

    body = documents.select("doc_id", F.col("text").alias("body")).withColumn(
        "clen", F.length("body").cast("long")
    )
    spans = (
        body.filter(F.col("clen") >= int(n))
        .select(
            "doc_id",
            "body",
            F.explode(
                F.expr(f"sequence(0, length(body) - {int(n)})")
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s").cast("long").alias("start"),
            (F.col("s") + int(n)).cast("long").alias("end"),
            F.expr(f"substring(body, s + 1, {int(n)})").alias("gram"),
        )
    )
    comb = F.struct(
        F.expr("CAST(conv(substring(md5(gram), 1, 8), 16, 10) AS BIGINT)").alias("h"),
        F.col("start").alias("s"),
    )
    wnd = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.currentRow, int(w) - 1)
    )
    sel = (
        spans.withColumn("_comb", comb)
        .withColumn("_min", F.min("_comb").over(wnd))
        .select("doc_id", F.col("_min.s").alias("start"))
        .distinct()
    )
    picked = spans.join(sel, ["doc_id", "start"], "left_semi")
    return _cut_spans(body.select("doc_id", "body", "clen"), picked)


def hll_registers(df: DataFrame, value_col: str, m: int = 256) -> DataFrame:
    """(register, max_rank, n_distinct): the register table of an
    HLL-style cardinality sketch over ``value_col`` — the constant-memory,
    mergeable distinct-count structure (Flajolet et al.) a 100 TB pipeline
    uses where ``count(DISTINCT url)`` per segment would shuffle the
    world. ``m`` registers (power of two); merge across shards/days =
    per-register ``max`` — exactly a Spark partial->final aggregate.

    Everything is exact integer math so the table is engine-portable: the
    60-bit md5-derived hash splits into register = h mod m and the
    (60 - log2 m)-bit remainder w; rank = leading zeros of w + 1
    (computed as bits_w + 1 - bit_length(w), no floats). The float
    harmonic-mean ESTIMATE is deliberately not emitted — it is a trivial
    post-processing of these m rows wherever the consumer runs, and the
    registers (not the estimate) are what gets stored and merged.
    ``n_distinct`` (exact per-register distinct) is the accuracy probe,
    analogous to countmin_probe's true_n.

    Shape: one projection + one partial->final agg into m rows. Output
    cardinality is m — constant in table size.
    """
    if m & (m - 1):
        raise ValueError("m must be a power of two")
    bits_w = 60 - m.bit_length() + 1  # 60-bit hash minus log2(m) register bits
    h = F.expr(
        f"CAST(conv(substring(md5(CAST({value_col} AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    )
    rank = F.when(F.col("_w") == 0, F.lit(bits_w + 1)).otherwise(
        F.lit(bits_w + 1) - F.length(F.bin("_w"))
    )
    return (
        df.select(h.alias("_h"))
        .withColumn("_w", F.expr(f"_h div {m}"))
        .select(
            (F.col("_h") % m).cast("int").alias("register"),
            rank.cast("int").alias("rank"),
            F.col("_h").alias("_hh"),
        )
        .groupBy("register")
        .agg(
            F.max("rank").cast("int").alias("max_rank"),
            F.count_distinct("_hh").cast("long").alias("n_distinct"),
        )
    )


def idf_drift(
    documents: DataFrame, min_df: int = 3, top: int = 100
) -> DataFrame:
    """(term, df_a, df_b, idf_bits_a, idf_bits_b, drift_bits): vocabulary
    drift between two deterministic halves of the corpus (doc_id parity)
    — the distribution-shift monitor a continuously-ingesting pipeline
    runs before a new crawl batch contaminates training mixes (a term
    whose idf moves is a topic surging or a new boilerplate family).

    idf_bits = bit_length(N_half div df_half) — the same integer idf
    surrogate as tfidf_topterms, so drift_bits = |idf_bits_a - idf_bits_b|
    is exact and engine-portable. Split-by-parity generalizes to
    split-by-day/source by swapping the partition expression.

    Shape: ONE distinct (doc, term) explode, then a single partial->final
    aggregation with conditional sums (no join between the halves —
    both df columns come out of the same group row); the report is a
    sort-limit over the min_df-filtered vocabulary.
    """
    inst = documents.select(
        "doc_id", (F.col("doc_id") % 2 == 0).alias("_a"),
        F.explode(tokens_col()).alias("term"),
    ).distinct()
    totals = documents.select(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("doc_id") % 2 == 0, 0).otherwise(1)).cast("long").alias("n_b"),
    )
    per = inst.groupBy("term").agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).cast("long").alias("df_a"),
        F.sum(F.when(F.col("_a"), 0).otherwise(1)).cast("long").alias("df_b"),
    )
    bits = lambda n, df: F.length(F.bin(F.expr(f"{n} div greatest({df}, 1)"))).cast("int")  # noqa: E731
    return (
        per.filter((F.col("df_a") + F.col("df_b")) >= min_df)
        .crossJoin(F.broadcast(totals))
        .withColumn("idf_bits_a", bits("n_a", "df_a"))
        .withColumn("idf_bits_b", bits("n_b", "df_b"))
        .withColumn(
            "drift_bits",
            F.abs(F.col("idf_bits_a") - F.col("idf_bits_b")).cast("int"),
        )
        .select("term", "df_a", "df_b", "idf_bits_a", "idf_bits_b", "drift_bits")
        .orderBy(F.desc("drift_bits"), F.desc(F.col("df_a") + F.col("df_b")), "term")
        .limit(top)
    )


def readability(documents: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_sentences, n_syllables, wps_c, spw_c, fre_c):
    integer Flesch reading-ease — the classic readability quality signal
    (too-low = legalese/machine text, implausibly-high = keyword lists),
    kept fully in integers so both engines agree bit-for-bit.

    Syllables are approximated by vowel-group runs (the standard cheap
    proxy), sentences by [.!?]+ runs (floored at 1). Centi-units with
    floor division everywhere: wps_c = 100*words/sentences, spw_c =
    100*syllables/words, fre_c = 20684 - 1015*wps_c/1000 - 8460*spw_c/100
    (Flesch's 206.84 - 1.015*wps - 84.6*spw, scaled x100).

    Shape: three regexp counts + closed-form arithmetic — pure map-side
    codegen, zero shuffles; composes with partition pruning like
    gopher_rules.
    """
    n_words = F.size(tokens_col())
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), F.lit(0)))
    )
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiou]+"), F.lit(0))
    )
    base = documents.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
    )
    return base.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        F.expr("CAST(100 * n_words div n_sentences AS BIGINT)").alias("wps_c"),
        F.expr(
            "CAST(100 * n_syllables div greatest(n_words, 1) AS BIGINT)"
        ).alias("spw_c"),
    ).withColumn(
        "fre_c",
        F.expr(
            "CAST(20684 - 1015 * wps_c div 1000 - 8460 * spw_c div 100 AS BIGINT)"
        ),
    )


def host_boilerplate_strip(
    documents: DataFrame,
    k: int = 10,
    min_share_bp: int = 5000,
    min_df: int = 2,
) -> DataFrame:
    """(doc_id, n_segments, n_boiler, clean_text): CCNet-style boilerplate
    REMOVAL scoped per source — where ``segment_dedup`` only measures the
    corpus-duplicated fraction, this emits the cleaned document.

    A k-token segment (same non-overlapping chunking as ``segment_dedup``)
    is boilerplate WITHIN ITS SOURCE when it appears in at least
    ``min_share_bp``/10000 of that source's docs and in at least ``min_df``
    docs (nav bars, cookie banners, footers — repeated across one site, not
    across the web, which is why the share is per-source: a global
    threshold would either miss site-local chrome or nuke common idioms).
    ``clean_text`` is the doc rebuilt from the surviving segments in
    order; the integer counts are the curation log.

    Scale shape: one segment explode (~tokens/k rows), one aggregation
    keyed on (source, segment-hash), one tiny per-source doc-count
    aggregate broadcast back, then one join keyed on (source, hash) whose
    aggregated side has one row per key (hot boilerplate never fans out
    quadratically), and one ordered rebuild via collect_list(struct) +
    array_sort keyed on doc_id — which reuses the explode's
    HashPartitioning(doc_id) when the explode is doc-keyed. All exact
    integer math; threshold compare is cross-multiplied (df * 10000 >=
    min_share_bp * n_docs), no floats.
    """
    base = documents.select("doc_id", "source", tokens_col().alias("toks"))
    segs = base.select(
        "doc_id",
        "source",
        F.when(
            F.size("toks") > 0,
            F.expr(
                f"transform(sequence(0, (size(toks) - 1) DIV {k}),"
                f" i -> concat_ws(' ', slice(toks, i * {k} + 1, {k})))"
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("segs"),
    )
    inst = segs.select(
        "doc_id", "source", F.posexplode("segs").alias("i", "seg")
    ).withColumn("sh", F.md5("seg"))
    dfreq = inst.groupBy("source", "sh").agg(
        F.countDistinct("doc_id").alias("df")
    )
    src_n = documents.groupBy("source").agg(F.count("*").alias("n_docs"))
    boiler = (
        dfreq.join(F.broadcast(src_n), "source")
        .filter(
            (F.col("df") >= F.lit(min_df))
            & (F.col("df") * 10000 >= F.lit(min_share_bp) * F.col("n_docs"))
        )
        .select("source", "sh", F.lit(True).alias("is_bp"))
    )
    flagged = inst.join(boiler, ["source", "sh"], "left").select(
        "doc_id",
        "i",
        "seg",
        F.coalesce("is_bp", F.lit(False)).alias("is_bp"),
    )
    per = flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum(F.when(F.col("is_bp"), 1).otherwise(0)).cast("long").alias("n_boiler"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(CASE WHEN NOT is_bp"
                " THEN struct(i, seg) END)), s -> s.seg)"
            ),
        ).alias("clean_text"),
    )
    return (
        documents.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def source_scorecard(documents: DataFrame) -> DataFrame:
    """(source, n_docs, top_lang, sum_tokens, mean_tokens, mean_stop_bp,
    dup_seg_bp): the per-source curation SCORECARD — the C4/CCNet-style
    domain triage table. A source with a low mean stopword ratio is
    machine text; a high dup_seg_bp is a boilerplate farm; a top_lang
    disagreeing with the collection's target flags a mislabelled feed —
    this one table is what decides which feeds get recrawled, downweighted
    (``mixture_weights``) or blocklisted, before any per-doc filtering
    spends compute.

    Composition: quality_score + lang-ID prediction + segment_dedup joined
    on doc_id, then ONE two-level aggregation: (source, predicted) sums
    first, then per source — the plurality pick (min(struct(-count,
    lang))) and every rollup sum come out of the same pass, so the 3-way
    per-doc join is consumed exactly once (no second aggregation branch
    re-reading it). All exact integers: means are floor divisions, the
    dup rate is per-mille of segments.

    Scale shape: the per-doc signals are map-side codegen except
    segment_dedup (whose keyed one-shuffle story is unchanged); the
    rollup adds one aggregation keyed on source (cardinality = #feeds,
    thousands not billions) plus a two-level plurality pick on (source,
    lang). Joins are all on doc_id — co-partitioned after the first
    shuffle.
    """
    q = quality_score(documents).select("doc_id", "n_tokens", "stop_bp")
    seg = segment_dedup(documents).select(
        "doc_id", "n_segments", "n_dup_segments"
    )
    base = (
        documents.select("doc_id", "source", lang_pred_col().alias("predicted"))
        .join(q, "doc_id")
        .join(seg, "doc_id")
    )
    per = base.groupBy("source", "predicted").agg(
        F.count("*").alias("cnt"),
        F.sum("n_tokens").alias("s_tokens"),
        F.sum("stop_bp").alias("s_stop"),
        F.sum("n_segments").alias("s_segs"),
        F.sum("n_dup_segments").alias("s_dup"),
    )
    agg = per.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.min(
            F.struct(
                (-F.col("cnt")).alias("neg"),
                F.col("predicted").alias("p"),
            )
        ).alias("m"),
        F.sum("s_tokens").cast("long").alias("sum_tokens"),
        F.expr("CAST(sum(s_tokens) div sum(cnt) AS BIGINT)").alias("mean_tokens"),
        F.expr("CAST(sum(s_stop) div sum(cnt) AS BIGINT)").alias("mean_stop_bp"),
        F.expr(
            "CASE WHEN sum(s_segs) > 0 THEN"
            " CAST(1000 * sum(s_dup) div sum(s_segs) AS BIGINT)"
            " ELSE 0 END"
        ).alias("dup_seg_bp"),
    )
    return agg.select(
        "source", "n_docs", F.col("m.p").alias("top_lang"), "sum_tokens",
        "mean_tokens", "mean_stop_bp", "dup_seg_bp",
    )


def kn_bigram(documents: DataFrame) -> DataFrame:
    """(t1, t2, c12, kn_ppm): interpolated Kneser-Ney bigram model over
    the corpus — the n-gram LM TRAINING step (``lm_score`` is the MLE
    scorer; KN is what a real perplexity filter ships, because MLE gives
    unseen-but-plausible continuations probability 0 while KN backs off
    to how PROMISCUOUSLY a word continues different contexts).

    Discount D = 3/4, exact by working in quarters:

        P_KN(t2|t1) = max(c12 - D, 0)/c1  +  D·succ(t1)/c1 · pred(t2)/B

    where c1 = Σ_t2 c12 (left-context mass), succ(t1) = #distinct
    continuations of t1, pred(t2) = #distinct contexts preceding t2
    (the continuation count — KN's key idea), and B = #distinct bigram
    types. Over the common denominator 4·c1·B the numerator is
    max(4·c12-3, 0)·B + 3·succ(t1)·pred(t2) — all int64 (c1, B ≤ corpus
    bigrams; the product stays under 2^63 for corpora to ~10^9 bigram
    types per partition-of-thought, see headroom note), and
    kn_ppm = 10^6 · num div den exactly, so both engines hash identically.

    Scale shape: one explode to bigram instances, one partial->final agg
    keyed on (t1, t2); succ/pred/B derive from that SAME aggregated
    relation (two tiny keyed aggs + one 1-row broadcast) — the instance
    relation is touched once. Joins are keyed on t1 / t2 against
    one-row-per-key sides. int64 headroom: num ≤ 4·c_max·B + 3·V² —
    safe while c_max·B < 2^61 (≈ a 10^9-type corpus with 10^3 max count;
    beyond that, pre-scale B and the den by a common power of two, the
    ratio is invariant).
    """
    base = documents.select("doc_id", tokens_col().alias("toks"))
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(0, size(toks) - 2),"
            " i -> struct(toks[i] AS t1, toks[i + 1] AS t2))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<t1:string,t2:string>>)"))
    inst = base.select(F.explode(bigrams).alias("bg")).select(
        F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2")
    )
    # materialize the aggregated bigram relation ONCE — left/right/B all
    # derive from it, and without this the explode would re-run per
    # derived aggregate (4 corpus scans; plan-pinned to exactly one)
    bg = (
        inst.groupBy("t1", "t2")
        .agg(F.count("*").cast("long").alias("c12"))
        .localCheckpoint()
    )
    left = bg.groupBy("t1").agg(
        F.sum("c12").alias("c1"),
        F.count("*").cast("long").alias("succ1"),
    )
    right = bg.groupBy("t2").agg(F.count("*").cast("long").alias("pred2"))
    btypes = bg.agg(F.count("*").cast("long").alias("b_types"))
    return (
        bg.join(left, "t1")
        .join(right, "t2")
        .crossJoin(F.broadcast(btypes))
        .select(
            "t1",
            "t2",
            "c12",
            F.expr(
                "CAST(1000000 * (greatest(4 * c12 - 3, 0) * b_types"
                " + 3 * succ1 * pred2) div (4 * c1 * b_types) AS BIGINT)"
            ).alias("kn_ppm"),
        )
    )

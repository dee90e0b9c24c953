"""The end-to-end curation CASCADE — one composed plan from raw docs to
the per-source publication rollup.

Round 3 shipped every cleaning transform as an independently-gated
operator; this module composes them into the pipeline a real 100 TB
curation run executes, in dependency order:

    raw docs
      -> per-source boilerplate strip   (textstats.host_boilerplate_strip)
      -> exact content dedup            (dedup.exact_dedup)
      -> minhash-LSH near-dup dedup     (dedup.neardup_clusters)
      -> exact-substring dedup          (textstats.exact_substring_dedup)
      -> Gopher quality gates           (textstats.gopher_rules)
      -> per-source accounting rollup

The ORDER is the production one (RefinedWeb/Falcon's documented
sequence: filtering, then fuzzy dedup, then exact-substring removal):
boilerplate strip runs first so content hashes and shingles are computed
on the CLEANED text (site chrome would make distinct pages collide);
the cheap exact hash runs before the LSH stage so the banded join sees a
smaller corpus; exact-substring removal runs AFTER near-dup dedup
because it cuts every non-first occurrence of duplicated n-grams — run
it first and near-identical documents become artificially unique (their
shared text is removed from all but one), blinding the minhash stage;
quality gates run last, on the fully-cleaned text, so their verdicts
describe what would actually ship.

Reference analog: the reference composes its fetch half end-to-end
(engine/engine.go run loop: fetch -> parse -> store); the curation half
gets the same treatment here (no single reference file composes these —
this is LLM-pipeline surface beyond the reference's scope).

Scale shape: every stage boundary hands exactly one MATERIALIZED
doc_id-keyed relation to the next stage — without materialization,
Catalyst inlines each stage everywhere it is referenced and the composed
plan re-reads the raw corpus once per reference (measured 89 parquet
scans at sf0.001); with it, the raw corpus is read exactly once, by
stage 1. Here the boundary is ``localCheckpoint`` — the single-JVM
analog of what a production run does anyway: write each stage's output
as an Iceberg table (state.py documents the API mapping), both because
the intermediate IS a deliverable (the curation log) and because a
100 TB stage must be resumable. The plan pin in tests/test_plans.py
enforces zero raw-corpus re-scans downstream of stage 1 and no
cartesian products. The per-stage shuffle stories are inherited
unchanged from the per-stage operators (segment/gram explodes keyed on
doc_id, keeper aggregations map-side-combining on hot grams, the LSH
join banded, never all-pairs); the only new work is the final
aggregation keyed on source (cardinality = #feeds) and the doc_id-keyed
flag joins, which AQE co-partitions after the first shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curation_cascade(
    documents: DataFrame,
    num_hashes: int = 9,
    band_size: int = 3,
    k: int = 3,
    seg_k: int = 10,
    substr_n: int | None = None,
    boiler_share_bp: int = 3000,
    min_words: int = 50,
    min_stop_hits: int = 2,
    substr_mode: str = "words",
) -> DataFrame:
    """(source, n_raw, boiler_segs_removed, n_exact_removed,
    n_near_removed, substr_chars_removed, n_quality_removed, n_final,
    sum_words_final): the curation run's publication table — per source,
    how much each stage removed and what survives, the accounting a
    dataset card ships next to the data.

    Per-doc flags are computed once each and consumed by ONE rollup:

    - ``exact_kept``: the doc is the min-doc_id representative of its
      stripped-body md5 group (exact_dedup on the stage-1 text);
    - ``near_keep``: among exact survivors, the doc is the min-id member
      of its minhash-LSH connected component (NULL for exact-removed
      docs — they never reach the LSH stage);
    - ``removed_chars``: exact-substring cuts, measured only over the
      docs that reach stage 4 (the dedup survivors);
    - ``gopher_keep``: the survivor passes the Gopher/MassiveText
      quality rules, evaluated on the fully-cleaned text — the
      repetition/format rules (mean word length 3-10 chars,
      symbol/bullet/ellipsis caps, >=80% alphabetic words, the
      100k-word ceiling) at the paper's thresholds, with the two
      prose-length FLOORS parameterized and DEFAULTED to the published
      values (``min_words=50``, ``min_stop_hits=2`` — Gopher/MassiveText
      Table A1): defaults are what a user ships by accident, so they are
      the production numbers. The synthetic test corpus tops out at
      stop_hits=1, so the gated query and the unit tests pass the
      relaxed 30/1 floors EXPLICITLY (a gate a corpus cannot pass at any
      quality level measures nothing — but that is the test corpus's
      problem, not a reason to soften the shipped defaults).

    ``substr_n`` is the exact-substring gram width: words in
    ``substr_mode="words"`` (default 8), characters in ``"bytes"``
    (default 50, the ExactSubstr paper's value).

    Removal counts are stage-attributed the way the cascade runs them: a
    doc removed by exact dedup is not also counted against the LSH or
    quality stages, and ``sum_words_final`` counts post-cut words. All
    exact integer math; ``num_hashes``/``band_size`` default to the
    oracle-tractable 9/3 config the other gated LSH queries pin
    (production default is the measured 128/8 — minhash_lsh_pairs
    docstring + SCALE.md).
    """
    flags = _cascade_flags(
        documents, num_hashes, band_size, k, seg_k, substr_n,
        boiler_share_bp, min_words, min_stop_hits, substr_mode,
    )
    survived = F.col("exact_kept") & F.col("near_keep")
    final = survived & F.col("gopher_keep")
    return flags.groupBy("source").agg(
        F.count("*").cast("long").alias("n_raw"),
        F.sum("n_boiler").cast("long").alias("boiler_segs_removed"),
        F.sum(F.when(~F.col("exact_kept"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact_removed"),
        F.sum(F.when(F.col("exact_kept") & ~F.col("near_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_near_removed"),
        F.sum(F.when(survived, F.col("removed_chars")).otherwise(0))
        .cast("long")
        .alias("substr_chars_removed"),
        F.sum(F.when(survived & ~F.col("gopher_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_quality_removed"),
        F.sum(F.when(final, 1).otherwise(0)).cast("long").alias("n_final"),
        F.sum(F.when(final, F.col("n_words")).otherwise(0))
        .cast("long")
        .alias("sum_words_final"),
    )


def _cascade_flags(
    documents: DataFrame,
    num_hashes: int,
    band_size: int,
    k: int,
    seg_k: int,
    substr_n: int | None,
    boiler_share_bp: int,
    min_words: int,
    min_stop_hits: int,
    substr_mode: str = "words",
) -> DataFrame:
    """The cascade's per-doc decision relation: (doc_id, source,
    n_boiler, exact_kept, near_keep, removed_chars, ctext, n_words,
    gopher_keep) — stage flags NULL for docs removed before the stage
    ran. Shared by ``curation_cascade`` (the rollup) and
    ``cleaned_corpus`` (the export)."""
    from crawler_spark.pipeline.dedup import exact_dedup, neardup_clusters
    from crawler_spark.pipeline.textstats import (
        exact_substring_dedup,
        gopher_rules,
        host_boilerplate_strip,
    )

    # stage 1: per-source boilerplate strip; carry the removal counts
    # (share threshold mirrors the standalone gated query's 30% config).
    # Each stage boundary is localCheckpoint'ed — see module docstring.
    b = host_boilerplate_strip(
        documents, k=seg_k, min_share_bp=boiler_share_bp, min_df=2
    )
    docs1 = (
        documents.select("doc_id", "source")
        .join(b, "doc_id")
        .select(
            "doc_id", "source", "n_boiler", F.col("clean_text").alias("text")
        )
        .localCheckpoint()
    )
    # stage 2: exact content dedup on the stripped body
    ex_keep = exact_dedup(docs1.select("doc_id", "text")).select(
        F.col("keep_id").alias("doc_id"), F.lit(True).alias("exact_kept")
    )
    flagged = (
        docs1.join(ex_keep, "doc_id", "left")
        .withColumn("exact_kept", F.coalesce("exact_kept", F.lit(False)))
        .localCheckpoint()
    )
    # stage 3: near-dup components over the exact survivors only
    near = neardup_clusters(
        flagged.filter("exact_kept").select("doc_id", "text"),
        num_hashes,
        band_size,
        k,
    ).select("doc_id", F.col("keep").alias("near_keep"))
    flagged = flagged.join(near, "doc_id", "left").localCheckpoint()
    # stage 4: corpus-wide exact-substring removal over the dedup
    # survivors (AFTER fuzzy dedup — see module docstring on order).
    # substr_mode selects granularity: "words" = the shuffle-cheap
    # word-n-gram default; "bytes" = the paper-fidelity byte-level pass
    # (RefinedWeb's exact-substring stage IS Lee et al. ExactSubstr at
    # byte resolution) — substr_n then counts CHARACTERS, not words, and
    # its default is the paper's 50 characters (8 characters would cut
    # every repeated short string corpus-wide).
    from crawler_spark.pipeline.textstats import exact_substring_dedup_bytes

    if substr_n is None:
        substr_n = 50 if substr_mode == "bytes" else 8

    surv = flagged.filter("exact_kept AND near_keep").select("doc_id", "text")
    substr_op = (
        exact_substring_dedup_bytes if substr_mode == "bytes"
        else exact_substring_dedup
    )
    e = substr_op(surv, n=substr_n).select(
        "doc_id", "removed_chars", F.col("clean_text").alias("ctext")
    ).localCheckpoint()
    # stage 5: quality gates on the fully-cleaned survivor text
    g = gopher_rules(
        e.select("doc_id", F.col("ctext").alias("text"))
    ).select(
        "doc_id",
        "n_words",
        (
            F.col("n_words").between(int(min_words), 100000)
            & F.col("mean_wl_bp").between(3000, 10000)
            & (F.col("symbol_bp") <= 100)
            & (F.col("bullet_bp") <= 900)
            & (F.col("ellipsis_bp") <= 300)
            & (F.col("alpha_bp") >= 800)
            & (F.col("stop_hits") >= F.lit(int(min_stop_hits)))
        ).alias("gopher_keep"),
    )
    return (
        flagged.select(
            "doc_id", "source", "n_boiler", "exact_kept", "near_keep"
        )
        .join(e, "doc_id", "left")
        .join(g, "doc_id", "left")
    )


def cleaned_corpus(
    documents: DataFrame,
    num_hashes: int = 9,
    band_size: int = 3,
    k: int = 3,
    seg_k: int = 10,
    substr_n: int | None = None,
    boiler_share_bp: int = 3000,
    min_words: int = 50,
    min_stop_hits: int = 2,
    substr_mode: str = "words",
) -> DataFrame:
    """(doc_id, source, clean_text, n_words): the cascade's EXPORT — the
    cleaned, deduplicated, quality-gated corpus a curation run actually
    ships (``curation_cascade`` is its accounting rollup; this is the
    data). One row per surviving doc; ``clean_text`` is the text after
    boilerplate strip AND exact-substring cuts; ``n_words`` is the
    post-cut token count the packer costs sequences with. Same stage
    parameters, same per-doc flag relation — the export and the
    dataset-card rollup can never disagree."""
    flags = _cascade_flags(
        documents, num_hashes, band_size, k, seg_k, substr_n,
        boiler_share_bp, min_words, min_stop_hits, substr_mode,
    )
    return flags.filter(
        F.col("exact_kept") & F.col("near_keep") & F.col("gopher_keep")
    ).select("doc_id", "source", F.col("ctext").alias("clean_text"), "n_words")


def cleaned_corpus_packed(
    documents: DataFrame,
    capacity: int = 2048,
    num_hashes: int = 9,
    band_size: int = 3,
    k: int = 3,
    seg_k: int = 10,
    substr_n: int | None = None,
    boiler_share_bp: int = 3000,
    min_words: int = 50,
    min_stop_hits: int = 2,
) -> DataFrame:
    """(doc_id, source, n_words, n_tok, start_off, first_bin, last_bin,
    n_bins): the LAST MILE from raw crawl to training-ready sequences —
    the cascade's export (``cleaned_corpus``) fed straight into
    GPT-style sequence packing (assemble.pack_sequences): each surviving
    document's fully-cleaned text is tokenized (the BPE-ish regex, same
    definition as textstats.token_counts) and mapped to the training-
    sequence bins it occupies when the cleaned corpus is concatenated in
    doc_id order and split every ``capacity`` tokens.

    ``n_words`` is the cascade's Gopher word count (whitespace words
    over the cleaned text); ``n_tok`` is the packer's BPE-regex count
    over the same text — both shipped so the dataset card can state the
    corpus size in either unit.

    Scale shape: the export is materialized ONCE (localCheckpoint here =
    the Iceberg corpus-table commit a production run makes anyway — the
    cleaned corpus IS the deliverable) so the packer's bound probe, its
    per-bucket totals pass, and the final projection all read the
    checkpointed relation instead of re-executing the cascade; the
    per-doc flag relation (_cascade_flags) is therefore computed exactly
    once, the same single-computation contract ``cleaned_corpus``
    itself makes. Packing adds one ordered-range repartition (the
    two-level prefix sum) plus one doc_id-keyed join back to the export
    for (source, n_words) — AQE co-partitions it after the packer's
    exchange. The plan pin (tests/test_plans.py) holds the composed
    plan to zero raw-corpus re-scans and nothing cartesian."""
    from crawler_spark.pipeline.assemble import pack_sequences

    corpus = cleaned_corpus(
        documents, num_hashes, band_size, k, seg_k, substr_n,
        boiler_share_bp, min_words, min_stop_hits,
    ).localCheckpoint()
    packed = pack_sequences(
        corpus.select("doc_id", F.col("clean_text").alias("text")),
        capacity=capacity,
    )
    # the packer's cache only served its per-bucket totals pass, which has
    # run; released here, the final projection re-tokenizes the
    # checkpointed export once instead of pinning a cached relation for
    # the life of the session
    if packed._cached is not None:
        packed._cached.unpersist()
    return (
        corpus.select("doc_id", "source", "n_words")
        .join(packed, "doc_id")
        .select(
            "doc_id", "source", "n_words", "n_tok",
            "start_off", "first_bin", "last_bin", "n_bins",
        )
    )

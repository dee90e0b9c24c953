"""Semantic unit tests for the curation operators added after round 1:
repetition signals, per-source rollup, and the as-of event correlation.
Hand-computed expectations on tiny in-memory frames (the sf0.01 DuckDB
oracle covers the same ops at corpus scale via tools/check_oracles.py).
"""

from __future__ import annotations

import datetime as dt

import pytest

from crawler_spark.pipeline.events import asof_last_before
from crawler_spark.pipeline.textstats import repetition_signals, source_stats


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_repetition_signals(spark):
    d = _docs(
        spark,
        [
            # tokens: a a a b -> top 3/4 = 750bp; bigrams [a a, a a, a b]
            # -> 1 dup of 3 = 333bp
            (1, "a a  a b", "en", "s1", 8),
            # no repetition at all
            (2, "x y z", "en", "s1", 5),
            # single token: no bigrams, top token is itself (1000bp)
            (3, "solo", "en", "s2", 4),
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_signals(d).collect()}
    assert got[1] == {
        "doc_id": 1, "n_tokens": 4, "top_tok_n": 3, "top_tok_bp": 750,
        "n_bigrams": 3, "dup_bigram_bp": 333,
    }
    assert got[2]["top_tok_bp"] == 333 and got[2]["dup_bigram_bp"] == 0
    assert got[3] == {
        "doc_id": 3, "n_tokens": 1, "top_tok_n": 1, "top_tok_bp": 1000,
        "n_bigrams": 0, "dup_bigram_bp": 0,
    }


def test_source_stats(spark):
    d = _docs(
        spark,
        [
            (1, "same  text", "en", "s1", 10),
            (2, "same text", "fr", "s1", 9),  # ws-normalized dup of doc 1
            (3, "other", "en", "s1", 5),
            (4, "only", "de", "s2", 4),
        ],
    )
    got = {r["source"]: r.asDict() for r in source_stats(d).collect()}
    assert got["s1"] == {
        "source": "s1", "n_docs": 3, "total_chars": 24, "n_langs": 2,
        "n_exact_dups": 1,
    }
    assert got["s2"]["n_docs"] == 1 and got["s2"]["n_exact_dups"] == 0


def test_pii_scrub(spark):
    from crawler_spark.pipeline.textstats import pii_scrub

    d = _docs(
        spark,
        [
            (1, "mail me at bob.smith+x@ex-ample.co.uk or call 5551234567", "en", "s1", 0),
            (2, "short 123456 stays, 1234567 goes", "en", "s1", 0),
            (3, "no pii here", "en", "s1", 0),
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in pii_scrub(d).collect()}
    assert got[1]["clean_text"] == "mail me at <EMAIL> or call <NUM>"
    assert got[1]["n_emails"] == 1 and got[1]["n_longnums"] == 1
    assert got[2]["clean_text"] == "short 123456 stays, <NUM> goes"
    assert got[2]["n_longnums"] == 1
    assert got[3]["clean_text"] == "no pii here"
    assert got[3]["n_emails"] == 0 and got[3]["n_longnums"] == 0


def test_length_deciles(spark):
    from crawler_spark.pipeline.textstats import length_deciles

    # lengths 1..10 -> decile d sits at sorted position (10-1)*d//10 + 1
    d = _docs(
        spark,
        [(i, "x" * i, "en", "s1", i) for i in range(1, 11)],
    )
    got = {r["decile"]: r["len_value"] for r in length_deciles(d).collect()}
    assert got == {dd: (9 * dd) // 10 + 1 for dd in range(1, 10)}


def test_asof_last_before(spark):
    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, sec, user, typ, val):
        return (eid, t0 + dt.timedelta(seconds=sec), user, typ, float(val), "{}")

    events = spark.createDataFrame(
        [
            ev(1, 0, 7, "click", 1.0),
            ev(2, 10, 7, "click", 2.0),
            ev(3, 10, 7, "purchase", 50.0),   # same ts as click 2: event_id 2 < 3 -> sees it
            ev(4, 20, 7, "purchase", 60.0),   # latest earlier click is still #2
            ev(5, 5, 8, "purchase", 70.0),    # user 8 has no earlier click
            ev(6, 9, 8, "view", 0.0),         # other types are ignored entirely
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r["event_id"]: r.asDict() for r in asof_last_before(events, "purchase", "click").collect()}
    assert set(got) == {3, 4, 5}
    assert got[3]["prev_value"] == 2.0 and got[3]["gap_us"] == 0
    assert got[4]["prev_value"] == 2.0 and got[4]["gap_us"] == 10_000_000
    assert got[5]["prev_value"] is None and got[5]["gap_us"] is None


def test_lsh_bucket_udf_matches_expression_form(spark):
    """The Arrow-vectorized bucket UDF must reproduce the interpreted
    expression fold bit-for-bit (same left-to-right IEEE double
    accumulation) — single table and all multi-table families."""
    from crawler_spark.pipeline.similarity import lsh_buckets, lsh_buckets_multitable

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fast = {r["vec_id"]: r["bucket"] for r in lsh_buckets(emb).collect()}
    slow = {r["vec_id"]: r["bucket"] for r in lsh_buckets(emb, vectorized=False).collect()}
    assert fast == slow
    fast_mt = {
        (r["vec_id"], r["table"]): r["bucket"]
        for r in lsh_buckets_multitable(emb, n_tables=3).collect()
    }
    slow_mt = {
        (r["vec_id"], r["table"]): r["bucket"]
        for r in lsh_buckets_multitable(emb, n_tables=3, vectorized=False).collect()
    }
    assert fast_mt == slow_mt


def test_ivf_assign_udf_matches_expression_form(spark):
    from crawler_spark.pipeline.similarity import ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fast = {r["vec_id"]: r["cell"] for r in ivf_assign(emb).collect()}
    slow = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, vectorized=False).collect()}
    assert fast == slow


def test_asof_plan_has_no_join(spark):
    """The as-of is a single windowed pass — the physical plan must contain
    a Window over user_id and NO join node (the naive formulation explodes
    |purchases|x|clicks| per user before pruning)."""
    t0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [(1, t0, 7, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    plan = asof_last_before(events, "purchase", "click")._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "Join" not in plan


# ---- dataset-assembly operators (pipeline/assemble.py) ----


def test_decontaminate(spark):
    from crawler_spark.pipeline.assemble import decontaminate

    train = _docs(
        spark,
        [
            # shares shingle 'a b c' with the eval doc: 1 of 2 -> 500bp
            (1, "a b c x", "en", "s", 7),
            # too short for 3-gram shingles: never contaminated
            (2, "z z", "en", "s", 3),
            # disjoint shingles
            (3, "p q r s", "en", "s", 7),
        ],
    )
    ev = _docs(spark, [(100, "a b c d", "en", "s", 7)])
    got = {r["doc_id"]: r.asDict() for r in decontaminate(train, ev).collect()}
    assert got[1] == {
        "doc_id": 1, "n_shingles": 2, "n_overlap": 1,
        "overlap_bp": 500, "contaminated": True,
    }
    assert got[2] == {
        "doc_id": 2, "n_shingles": 0, "n_overlap": 0,
        "overlap_bp": 0, "contaminated": False,
    }
    assert got[3]["n_overlap"] == 0 and not got[3]["contaminated"]


def test_stratified_sample_matches_hash_math(spark):
    import hashlib

    from crawler_spark.pipeline.assemble import stratified_sample

    rows = [(i, f"doc {i}", "en" if i % 2 == 0 else "fr", "s", 5) for i in range(200)]
    d = _docs(spark, rows)
    rates = {"en": 5000, "fr": 1000}
    got = {r["doc_id"]: r["bucket"] for r in stratified_sample(d, rates).collect()}

    def bucket(i):
        return int(hashlib.md5(f"mix1:{i}".encode()).hexdigest()[:8], 16) % 10000

    want = {
        i: bucket(i)
        for i, _, lang, _, _ in rows
        if bucket(i) < rates[lang]
    }
    assert got == want
    assert 0 < len(want) < len(rows)  # the fixture exercises both outcomes


def test_pack_sequences(spark):
    from crawler_spark.pipeline.assemble import pack_sequences

    d = _docs(
        spark,
        [
            (1, "a b c", "en", "s", 5),    # 3 toks, start 0 -> bin 0
            (2, "d e f", "en", "s", 5),    # 3 toks, start 3 -> bins 0..1
            (5, "g", "en", "s", 1),        # 1 tok,  start 6 -> bin 1
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in pack_sequences(d, capacity=4).collect()}
    assert got[1] == {
        "doc_id": 1, "n_tok": 3, "start_off": 0,
        "first_bin": 0, "last_bin": 0, "n_bins": 1,
    }
    assert got[2] == {
        "doc_id": 2, "n_tok": 3, "start_off": 3,
        "first_bin": 0, "last_bin": 1, "n_bins": 2,
    }
    assert got[5] == {
        "doc_id": 5, "n_tok": 1, "start_off": 6,
        "first_bin": 1, "last_bin": 1, "n_bins": 1,
    }


def test_pack_sequences_window_is_partitioned(spark):
    """The running token offset must come from the two-level prefix sum —
    the plan's Window node partitions by _bucket, never 'No Partition
    Defined' (which would serialize the corpus through one task)."""
    from crawler_spark.pipeline.assemble import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = pack_sequences(docs, capacity=2048)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "_bucket" in plan
    import re

    for m in re.finditer(r"Window \[[^\]]*\], (\[[^\]]*\])", plan):
        assert m.group(1) != "[]", plan  # empty partition spec


def test_shard_assign_matches_hash_math(spark):
    import hashlib

    from crawler_spark.pipeline.assemble import shard_assign

    rows = [(i, f"doc {i}", "en", "s", 5) for i in range(50)]
    got = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in shard_assign(_docs(spark, rows), n_shards=4).collect()
    }

    def h(i):
        return hashlib.md5(f"shard1:{i}".encode()).hexdigest()

    want = {}
    by_shard = {}
    for i, *_ in rows:
        by_shard.setdefault(int(h(i)[:8], 16) % 4, []).append(i)
    for shard, ids in by_shard.items():
        for pos, i in enumerate(sorted(ids, key=lambda i: (h(i), i)), start=1):
            want[i] = (shard, pos)
    assert got == want
    assert len(by_shard) == 4  # fixture hits every shard


def test_dataset_card(spark):
    from crawler_spark.pipeline.assemble import dataset_card

    d = _docs(
        spark,
        [
            (1, "a b!", "en", "s1", 4),   # 3 bpe tokens (a, b, !)
            (2, "cd 12", "en", "s2", 5),  # 2 bpe tokens
            (3, "xyz", "fr", "s1", 3),    # 1 bpe token
        ],
    )
    got = {r["lang"]: r.asDict() for r in dataset_card(d).collect()}
    assert got["en"] == {
        "lang": "en", "n_docs": 2, "n_sources": 2,
        "total_chars": 9, "total_tokens": 5,
    }
    assert got["fr"]["n_docs"] == 1 and got["fr"]["total_tokens"] == 1


def test_pack_sequences_invariants_fuzz(spark):
    """Distributed pack == the trivial single-pass reference on random
    corpora: offsets are the exclusive prefix sum in doc_id order, bins
    tile the token stream with no gaps."""
    import random

    from pyspark.sql import functions as F

    from crawler_spark.pipeline.assemble import pack_sequences

    rng = random.Random(7)
    for trial in range(3):
        n = rng.randint(1, 60)
        cap = rng.choice([3, 7, 16])
        rows = []
        for i in sorted(rng.sample(range(1000), n)):
            words = " ".join("w" for _ in range(rng.randint(1, 30)))
            rows.append((i, words, "en", "s", len(words)))
        got = {
            r["doc_id"]: r.asDict()
            for r in pack_sequences(
                _docs(spark, rows), capacity=cap, n_parts=rng.choice([2, 5, 32])
            ).collect()
        }
        off = 0
        for i, words, *_ in rows:
            t = len(words.split())
            g = got[i]
            assert g["n_tok"] == t and g["start_off"] == off, (trial, i, g)
            assert g["first_bin"] == off // cap
            assert g["last_bin"] == (off + t - 1) // cap
            off += t


def test_vocab_topk(spark):
    from crawler_spark.pipeline.textstats import vocab_topk

    d = _docs(
        spark,
        [
            (1, "b b a a c", "en", "s", 9),
            (2, "a", "en", "s", 1),
            (3, "z z y", "fr", "s", 5),
        ],
    )
    got = [
        (r["lang"], r["tok"], r["n"], r["rk"])
        for r in vocab_topk(d, k=2).orderBy("lang", "rk").collect()
    ]
    # en: a=3, b=2 (count desc); fr: z=2, y=1; ties broken by token asc
    assert got == [("en", "a", 3, 1), ("en", "b", 2, 2), ("fr", "z", 2, 1), ("fr", "y", 1, 2)]


# ---- cross-doc segment dedup / LM score / template detection ----


def test_segment_dedup(spark):
    from crawler_spark.pipeline.textstats import segment_dedup

    d = _docs(
        spark,
        [
            (1, "a b c d e", "en", "s1", 9),   # segs(k=2): [a b][c d][e]
            (2, "a b x y", "en", "s1", 7),     # segs: [a b][x y]
            (3, "zz", "en", "s2", 2),          # segs: [zz]
            (4, " ", "en", "s2", 1),           # no tokens -> 0 segments
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in segment_dedup(d, k=2).collect()}
    assert got[1] == {
        "doc_id": 1, "n_segments": 3, "n_dup_segments": 1, "dup_seg_bp": 333
    }
    assert got[2] == {
        "doc_id": 2, "n_segments": 2, "n_dup_segments": 1, "dup_seg_bp": 500
    }
    assert got[3]["n_dup_segments"] == 0
    assert got[4] == {
        "doc_id": 4, "n_segments": 0, "n_dup_segments": 0, "dup_seg_bp": 0
    }


def test_lm_score(spark):
    from crawler_spark.pipeline.textstats import lm_score

    d = _docs(
        spark,
        [
            (1, "a b", "en", "s1", 3),
            (2, "a b", "en", "s1", 3),
            (3, "a c", "en", "s1", 3),
            (4, "solo", "en", "s1", 4),  # no bigrams
        ],
    )
    # corpus counts: cb(a,b)=2, cb(a,c)=1, cu(a)=3
    # p_bp(a,b) = 2000 DIV 3 = 666; p_bp(a,c) = 333
    got = {r["doc_id"]: r.asDict() for r in lm_score(d).collect()}
    assert got[1] == {"doc_id": 1, "n_bigrams": 1, "lm_bp": 666}
    assert got[2]["lm_bp"] == 666
    assert got[3] == {"doc_id": 3, "n_bigrams": 1, "lm_bp": 333}
    assert got[4] == {"doc_id": 4, "n_bigrams": 0, "lm_bp": 0}


def test_template_stats(spark):
    from crawler_spark.pipeline.textstats import template_stats

    d = _docs(
        spark,
        [
            (1, "a b tail-one", "en", "s1", 12),
            (2, "a b tail-two", "en", "s1", 12),
            (3, "c d other", "en", "s2", 9),
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in template_stats(d, head_k=2, min_df=2).collect()}
    assert got[1]["template_df"] == 2 and got[1]["is_template"]
    assert got[2]["template_fp"] == got[1]["template_fp"]
    assert got[3]["template_df"] == 1 and not got[3]["is_template"]


def test_segment_dedup_plan_shape(spark):
    """Aggregation on the segment hash must be partial->final and the
    annotate-back join a hash join on that same key — no cartesian, no
    broadcast of the instance side."""
    from crawler_spark.pipeline.textstats import segment_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = segment_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_finalmerge" in plan or "HashAggregate" in plan


# ---- interleaved span payload (pipeline/interleaved.py) ----


def test_synth_spans_interleave(spark):
    """chunk=2, media_every=2 over 'a b c d e': chunks [a b][c d][e];
    text offsets 0,1,3 (ci + ci DIV 2), one media span at offset 2."""
    from crawler_spark.pipeline.interleaved import synth_spans

    d = _docs(spark, [(1, "a b c d e", "en", "s1", 9)])
    rows = sorted(
        (r["offset"], r["kind"], r["text"], r["media_ref"])
        for r in synth_spans(d, chunk=2, media_every=2).collect()
    )
    assert rows == [
        (0, "text", "a b", ""),
        (1, "text", "c d", ""),
        (2, "media", "", "asset://1/1"),
        (3, "text", "e", ""),
    ]


def test_interleave_stats_and_render(spark):
    from crawler_spark.pipeline.interleaved import (
        interleave_stats,
        render_interleaved,
    )

    d = _docs(
        spark,
        [(1, "a b c d e", "en", "s1", 9), (2, " ", "en", "s1", 1)],
    )
    st = {r["doc_id"]: r.asDict() for r in interleave_stats(d, chunk=2).collect()}
    assert st["1"] == {
        "doc_id": "1", "n_spans": 4, "n_text_spans": 3, "n_media_spans": 1,
        "text_chars": 7, "offsets_ok": True,
    }
    assert st["2"]["n_spans"] == 0 and st["2"]["offsets_ok"]

    import hashlib

    rd = {r["doc_id"]: r.asDict() for r in render_interleaved(d, chunk=2).collect()}
    expected = "a b c d <media:asset://1/1> e"
    assert rd["1"]["render_fp"] == hashlib.md5(expected.encode()).hexdigest()
    assert rd["1"]["n_pieces"] == 4 and rd["1"]["n_media"] == 1
    assert rd["2"]["render_fp"] == hashlib.md5(b"").hexdigest()


def test_to_nested_matches_engine_span_shape(spark):
    """The folded form must carry the exact input_hint struct fields in
    offset order — the shape the crawl engine's documents table lands."""
    from crawler_spark.pipeline.interleaved import synth_spans, to_nested

    d = _docs(spark, [(1, "a b c d e", "en", "s1", 9)])
    nested = to_nested(synth_spans(d, chunk=2)).collect()[0]
    kinds = [s["kind"] for s in nested["spans"]]
    offsets = [s["offset"] for s in nested["spans"]]
    assert kinds == ["text", "text", "media", "text"]
    assert offsets == [0, 1, 2, 3]
    assert set(nested["spans"][0].asDict()) == {"kind", "text", "media_ref", "offset"}


def test_synth_spans_plan_no_window(spark):
    """Offsets are closed-form arithmetic — the synthesis plan must have no
    Window and no Join (a running-count formulation would serialize)."""
    from crawler_spark.pipeline.interleaved import synth_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = synth_spans(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Join" not in plan


def test_mixture_weights(spark):
    """en 6 docs, fr 2, zh 0 in corpus; targets en=250, fr=500, zh=250.
    n_total=8 -> expected: en 2, fr 4, zh 2; weights: en 333, fr 2000
    (upsample), zh 0 (nothing to draw from)."""
    from crawler_spark.pipeline.assemble import mixture_weights

    d = _docs(
        spark,
        [(i, f"doc {i}", "en" if i < 6 else "fr", "s", 5) for i in range(8)],
    )
    got = {
        r["lang"]: r.asDict()
        for r in mixture_weights(d, {"en": 250, "fr": 500, "zh": 250}).collect()
    }
    assert got["en"] == {
        "lang": "en", "n_docs": 6, "share_bp": 750, "target_bp": 250,
        "expected_n": 2, "weight_bp": 333,
    }
    assert got["fr"]["expected_n"] == 4 and got["fr"]["weight_bp"] == 2000
    assert got["zh"] == {
        "lang": "zh", "n_docs": 0, "share_bp": 0, "target_bp": 250,
        "expected_n": 2, "weight_bp": 0,
    }


def test_mixture_weights_feed_stratified_sample(spark):
    """The composition contract: weight_bp (scaled to the 10000-bp hash
    space) drives stratified_sample toward the target mixture."""
    from crawler_spark.pipeline.assemble import mixture_weights, stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = {
        r["lang"]: min(10000, r["weight_bp"] * 10)
        for r in mixture_weights(docs, {"en": 400, "fr": 150, "de": 150,
                                        "es": 150, "zh": 150}).collect()
    }
    sampled = stratified_sample(docs, w).groupBy("lang").count().collect()
    got = {r["lang"]: r["count"] for r in sampled}
    total = sum(got.values())
    # en should land near 40% of the sample (hash noise at 500 docs is wide;
    # the exactness gate is the DuckDB oracle, this pins the direction)
    assert abs(got.get("en", 0) / total - 0.4) < 0.15


def test_segment_lm_render_fuzz(spark):
    """Spark segment_dedup / lm_score / render_interleaved == trivial
    pure-Python references on seeded random corpora (small vocab so
    cross-doc segment collisions and hot bigrams actually occur)."""
    import hashlib
    import random
    from collections import Counter

    from crawler_spark.pipeline.interleaved import render_interleaved
    from crawler_spark.pipeline.textstats import lm_score, segment_dedup

    rng = random.Random(11)
    for trial in range(2):
        vocab = ["a", "b", "c", "d"]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 24))),
             "en", "s", 0)
            for i in range(rng.randint(1, 40))
        ]
        toks = {i: t.split() for i, t, *_ in rows}
        k, chunk, m = 3, 2, 2

        # --- segment_dedup reference
        segs = {
            i: [" ".join(t[j * k : j * k + k]) for j in range((len(t) - 1) // k + 1)]
            if t else []
            for i, t in toks.items()
        }
        seg_docs = {}
        for i, ss in segs.items():
            for s in set(ss):
                seg_docs.setdefault(s, set()).add(i)
        got = {r["doc_id"]: r.asDict()
               for r in segment_dedup(_docs(spark, rows), k=k).collect()}
        for i, ss in segs.items():
            dup = sum(1 for s in ss if len(seg_docs[s]) > 1)
            assert got[i]["n_segments"] == len(ss)
            assert got[i]["n_dup_segments"] == dup, (trial, i)

        # --- lm_score reference
        bg = Counter((t[j], t[j + 1]) for t in toks.values()
                     for j in range(len(t) - 1))
        ctx = Counter()
        for (t1, _), c in bg.items():
            ctx[t1] += c
        gl = {r["doc_id"]: r.asDict() for r in lm_score(_docs(spark, rows)).collect()}
        for i, t in toks.items():
            pairs = [(t[j], t[j + 1]) for j in range(len(t) - 1)]
            if not pairs:
                assert gl[i] == {"doc_id": i, "n_bigrams": 0, "lm_bp": 0}
                continue
            s = sum(1000 * bg[p] // ctx[p[0]] for p in pairs)
            assert gl[i]["n_bigrams"] == len(pairs)
            assert gl[i]["lm_bp"] == s // len(pairs), (trial, i)

        # --- render reference
        gr = {r["doc_id"]: r.asDict()
              for r in render_interleaved(_docs(spark, rows), chunk=chunk,
                                          media_every=m).collect()}
        for i, t in toks.items():
            chunks = [" ".join(t[j * chunk : j * chunk + chunk])
                      for j in range((len(t) - 1) // chunk + 1)] if t else []
            pieces = []
            for ci, c in enumerate(chunks):
                pieces.append(c)
                if ci % m == m - 1:
                    pieces.append(f"<media:asset://{i}/{(ci + 1) // m}>")
            exp = hashlib.md5(" ".join(pieces).encode()).hexdigest()
            assert gr[str(i)]["render_fp"] == exp, (trial, i)


def test_bpe_pair_counts(spark):
    """'ab' x3 + 'abc' x1 -> pair 'a b' n=4, 'b c' n=1; single chars drop."""
    from crawler_spark.pipeline.textstats import bpe_pair_counts

    d = _docs(
        spark,
        [(1, "ab ab x", "en", "s", 7), (2, "ab abc", "en", "s", 6)],
    )
    rows = {r["pair"]: (r["n"], r["rk"]) for r in bpe_pair_counts(d).collect()}
    assert rows == {"a b": (4, 1), "b c": (1, 2)}


def test_exact_substring_dedup(spark):
    """First-occurrence-kept duplicate 5-gram removal: doc a keeps the
    gram, doc b's copy is cut (23 chars, leaving its surrounding spaces —
    byte removal, no re-joining), doc c loses BOTH copies (within-doc
    repeats count; keeper is doc a) leaving just the separator space."""
    from crawler_spark.pipeline.textstats import exact_substring_dedup

    d = spark.createDataFrame(
        [("a", "one two three four five unique tail a"),
         ("b", "prefix b one two three four five suffix b"),
         ("c", "one two three four five one two three four five")],
        "doc_id string, text string")
    got = {r["doc_id"]: (r["n_removed_spans"], r["removed_chars"], r["clean_text"])
           for r in exact_substring_dedup(d, n=5).collect()}
    assert got["a"] == (0, 0, "one two three four five unique tail a")
    assert got["b"] == (1, 23, "prefix b  suffix b")
    assert got["c"] == (2, 46, " ")


def test_bpe_train(spark):
    """Full training loop on a hand-checkable corpus.

    words: the x3, theme x2, thesis, other, there, them (each x1).
    iter1: 'h e' and 't h' both 9 (other contributes to both); tie ->
    'h e' wins lexicographically. iter2: 't he' = 9. iter3: 'the m' = 3
    (theme x2 + them). iter4: 'the r' = 2 ties 'them e' = 2 -> 'the r'
    ('the ' < 'them'). Greedy-leftmost: 'aaaa' under merge 'a a' pairs
    as (aa)(aa), never (a)(aa)(a)."""
    from crawler_spark.pipeline.textstats import bpe_train

    d = _docs(
        spark,
        [(1, "the theme thesis", "en", "s", 16),
         (2, "the other theme", "en", "s", 15),
         (3, "there the them", "en", "s", 14)],
    )
    got = [(r["rk"], r["pair"], r["n"]) for r in
           bpe_train(d, n_merges=4).orderBy("rk").collect()]
    assert got == [(1, "h e", 9), (2, "t he", 9), (3, "the m", 3), (4, "the r", 2)]

    # greedy leftmost pairing + early exhaustion (no pairs left -> stop)
    d2 = _docs(spark, [(1, "aaaa", "en", "s", 4)])
    got2 = [(r["rk"], r["pair"], r["n"]) for r in
            bpe_train(d2, n_merges=5).orderBy("rk").collect()]
    assert got2 == [(1, "a a", 3), (2, "aa aa", 1)]


def test_bpe_train_batched_equals_sequential(spark):
    """The batched trainer's acceptance rule (strict dominance over
    barrier / tie-group / truncation-tail) must be invisible: same merge
    table, same order, same counts as the sequential loop — including on
    the tie-heavy hand corpus where iter-1 'h e'/'t h' tie at 9 and the
    derived-pair cascade ('t he' is CREATED by applying 'h e' at the same
    count 9) forces one merge per scan. Plus the derived-pair-tie corpus
    class that broke the naive barrier-only rule (a touching pair tied
    with the candidate but sorted after it), and a sub-linearity check on
    a less degenerate corpus."""
    from crawler_spark.pipeline.textstats import bpe_train, bpe_train_batched

    d = _docs(
        spark,
        [(1, "the theme thesis", "en", "s", 16),
         (2, "the other theme", "en", "s", 15),
         (3, "there the them", "en", "s", 14)],
    )
    key = lambda r: (r["rk"], r["pair"], r["n"])
    assert (
        [key(r) for r in bpe_train_batched(d, n_merges=4).orderBy("rk").collect()]
        == [key(r) for r in bpe_train(d, n_merges=4).orderBy("rk").collect()]
    )

    # the round-4 regression shape: merging (c,o) creates (co,lu) at the
    # SAME count as the touching (o,lu) that bounds it, and (o,lu) sorts
    # AFTER the disjoint candidate (lu,m) — barrier alone would accept
    # (lu,m) out of order
    d2 = _docs(
        spark,
        [(i, "column column colum colum", "en", "s", 25) for i in range(3)],
    )
    st: dict = {}
    assert (
        [key(r) for r in
         bpe_train_batched(d2, n_merges=8, stats=st).orderBy("rk").collect()]
        == [key(r) for r in bpe_train(d2, n_merges=8).orderBy("rk").collect()]
    )

    # sub-linear scans on a mixed corpus: strictly fewer scans than merges
    d3 = _docs(
        spark,
        [(i, t, "en", "s", len(t)) for i, t in enumerate(
            ["the quick brown fox jumps over the lazy dog",
             "pack my box with five dozen liquor jugs",
             "sphinx of black quartz judge my vow",
             "how vexingly quick daft zebras jump"] * 3
        )],
    )
    st3: dict = {}
    n = 12
    got = [key(r) for r in
           bpe_train_batched(d3, n_merges=n, stats=st3).orderBy("rk").collect()]
    want = [key(r) for r in bpe_train(d3, n_merges=n).orderBy("rk").collect()]
    assert got == want
    assert st3["scans"] < n


def test_caption_pairs_adjacency(spark):
    """chunk=2, media_every=2: 'a b c d e f g h i' -> chunks [a b, c d,
    e f, g h, i]; media 1 after chunk 2 (cap_before='c d', cap_after='e f'),
    media 2 after chunk 4 (cap_before='g h', cap_after='i')."""
    from crawler_spark.pipeline.interleaved import caption_pairs

    d = _docs(spark, [(1, "a b c d e f g h i", "en", "s", 17)])
    rows = {
        r["media_ref"]: (r["cap_before"], r["cap_after"])
        for r in caption_pairs(d, chunk=2, media_every=2).collect()
    }
    assert rows == {
        "asset://1/1": ("c d", "e f"),
        "asset://1/2": ("g h", "i"),
    }
    # trailing media span has no following text -> cap_after = ''
    d2 = _docs(spark, [(2, "a b c d", "en", "s", 7)])
    rows2 = caption_pairs(d2, chunk=2, media_every=2).collect()
    assert len(rows2) == 1
    assert (rows2[0]["cap_before"], rows2[0]["cap_after"]) == ("c d", "")


def test_modality_mix_closed_form(spark):
    """9 tokens -> 2 chunks? no: chunk=5 -> (9-1)//5+1 = 2 chunks -> 1 media;
    3 tokens -> 1 chunk -> 0 media; empty doc -> 0 chunks."""
    from crawler_spark.pipeline.interleaved import modality_mix

    d = _docs(
        spark,
        [
            (1, "t1 t2 t3 t4 t5 t6 t7 t8 t9", "en", "s", 26),
            (2, "x y z", "en", "s", 5),
            (3, "", "fr", "s", 0),
        ],
    )
    got = {r["lang"]: r.asDict() for r in modality_mix(d).collect()}
    assert got["en"] == {
        "lang": "en", "n_docs": 2, "docs_with_media": 1,
        "total_tokens": 12, "total_media": 1, "tokens_per_media_bp": 120000,
    }
    assert got["fr"]["total_media"] == 0 and got["fr"]["tokens_per_media_bp"] == 0


def test_quality_model_hashed_weights(spark):
    """w('ab') = (14+97)%13-6 = 1; w('a') = (7+97)%13-6 = -6."""
    from crawler_spark.pipeline.textstats import quality_model

    d = _docs(
        spark,
        [(1, "ab ab", "en", "s", 5), (2, "a", "en", "s", 1), (3, "", "en", "s", 0)],
    )
    got = {r["doc_id"]: r.asDict() for r in quality_model(d).collect()}
    assert got[1] == {"doc_id": 1, "n_tokens": 2, "score_bp": 10000, "keep": True}
    assert got[2] == {"doc_id": 2, "n_tokens": 1, "score_bp": -60000, "keep": False}
    assert got[3] == {"doc_id": 3, "n_tokens": 0, "score_bp": 0, "keep": True}


def test_ccnet_buckets_terciles(spark):
    """Three en docs with lm_bp 1000 / 833 / 666 -> head / middle / tail
    (cum-of-strictly-better rank-math: 3*cum < n / < 2n cutoffs)."""
    from crawler_spark.pipeline.textstats import ccnet_buckets

    d = _docs(
        spark,
        [
            (1, "x y x y", "en", "s", 7),   # lm_bp 833
            (2, "p q r", "en", "s", 5),     # lm_bp 1000
            (3, "x y x z", "en", "s", 7),   # lm_bp 666
        ],
    )
    got = {r["doc_id"]: (r["lm_bp"], r["bucket"]) for r in ccnet_buckets(d).collect()}
    assert got == {2: (1000, "head"), 1: (833, "middle"), 3: (666, "tail")}


def test_span_dedup_boilerplate_across_docs(spark):
    """Two docs share their first 5-token chunk -> that span has df=2 and
    drops in both; unique tails keep; media spans pass through untouched."""
    from crawler_spark.pipeline.interleaved import span_dedup

    d = _docs(
        spark,
        [
            (1, "nav nav nav nav nav body one x y z", "en", "s", 34),
            (2, "nav nav nav nav nav body two p q r", "en", "s", 34),
        ],
    )
    rows = span_dedup(d, chunk=5, media_every=2, min_df=2).collect()
    by = {(r["doc_id"], r["offset"]): r for r in rows}
    # offset 0: the shared head chunk
    assert by[("1", 0)]["span_df"] == 2 and by[("1", 0)]["drop_span"]
    assert by[("2", 0)]["drop_span"]
    # offset 1: unique tails
    assert by[("1", 1)]["span_df"] == 1 and not by[("1", 1)]["drop_span"]
    # offset 2: media span after the 2nd chunk, never dropped
    assert by[("1", 2)]["kind"] == "media" and not by[("1", 2)]["drop_span"]
    assert by[("1", 2)]["span_df"] == 0


def test_gopher_rules_hand_computed(spark):
    from crawler_spark.pipeline.textstats import gopher_rules

    good = "the quick brown fox likes to be near the river of calm and " * 10
    bullets = "- one\n- two\n- three"
    docs = spark.createDataFrame(
        [(1, good), (2, bullets), (3, "### #### ##")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_rules(docs).collect()}
    assert got[1]["keep"] is True
    assert got[1]["n_words"] == 130 and got[1]["stop_hits"] == 5
    # all three lines are bullets -> 1000 bp > 900 cut
    assert got[2]["bullet_bp"] == 1000 and got[2]["keep"] is False
    # symbol storm: no alpha words, no stopwords
    assert got[3]["alpha_bp"] == 0 and got[3]["keep"] is False


def test_span_lang_mix_code_switch(spark):
    from crawler_spark.pipeline.interleaved import span_lang_mix

    # chunk=5 tokens per span: 2 english spans + 1 french span
    text = "the cat and the dog is of to in all " + "le la et les des"
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    row = span_lang_mix(docs).collect()[0]
    assert row["n_text_spans"] == 3 and row["n_langs"] == 2
    assert row["major_lang"] == "en" and row["major_cnt"] == 2
    assert row["minority_bp"] == 333


def test_pack_interleaved_span_costs(spark):
    from crawler_spark.pipeline.interleaved import pack_interleaved

    # doc 1: 10 one-letter words -> 2 text spans (5 BPE tokens each) and
    # 1 media span at offset 2 costing the fixed visual budget.
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    rows = {
        (r["offset"], r["kind"]): r.asDict()
        for r in pack_interleaved(docs, capacity=8, media_tokens=64).collect()
    }
    assert set(rows) == {(0, "text"), (1, "text"), (2, "media")}
    assert rows[(0, "text")]["n_tok"] == 5 and rows[(0, "text")]["start_off"] == 0
    assert rows[(1, "text")]["start_off"] == 5
    m = rows[(2, "media")]
    assert m["n_tok"] == 64 and m["start_off"] == 10
    # media span crosses bins: [10, 73] with capacity 8 -> bins 1..9
    assert m["first_bin"] == 1 and m["last_bin"] == 9


def test_pack_interleaved_global_offsets_across_docs(spark):
    from crawler_spark.pipeline.interleaved import pack_interleaved

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z")], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["offset"]): r["start_off"]
        for r in pack_interleaved(docs, capacity=4).collect()
    }
    # doc 1: one 5-token span at 0; doc 2 starts where doc 1 ended
    assert got[("1", 0)] == 0 and got[("2", 0)] == 5


def test_media_dedup_pool_groups(spark):
    from crawler_spark.pipeline.interleaved import media_dedup

    # 40 docs x 4 text spans -> media ordinals j in {1, 2} per doc;
    # pool=2 collapses them to content keys by j % 2.
    docs = spark.createDataFrame(
        [(i, "w " * 20) for i in range(40)], "doc_id long, text string"
    )
    rows = media_dedup(docs, pool=2).collect()
    assert len(rows) == 2
    by_key = {r["canonical_ref"].rsplit("/", 1)[1]: r for r in rows}
    assert by_key["1"]["n_refs"] == 40 and by_key["1"]["n_docs"] == 40
    assert by_key["2"]["n_refs"] == 40


def test_funnel_strict_ordering(spark):
    from crawler_spark.pipeline.events import funnel

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, sec, user, typ):
        return (eid, t0 + dt.timedelta(seconds=sec), user, typ, 0.0, "{}")

    events = spark.createDataFrame(
        [
            # user 7: full funnel in order
            ev(1, 0, 7, "view"), ev(2, 10, 7, "click"), ev(3, 20, 7, "purchase"),
            # user 8: purchase BEFORE the click -> reaches only step 2
            ev(4, 0, 8, "view"), ev(5, 5, 8, "purchase"), ev(6, 10, 8, "click"),
            # user 9: click with no prior view -> reaches step 0
            ev(7, 0, 9, "click"), ev(8, 5, 9, "purchase"),
            # user 10: same-ts view then click (event_id order) qualifies
            ev(9, 0, 10, "view"), ev(10, 0, 10, "click"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r["user_id"]: r.asDict() for r in funnel(events).collect()}
    assert got[7]["reached"] == 3
    assert got[8]["reached"] == 2 and got[8]["t3_us"] is None
    assert got[9]["reached"] == 0 and got[9]["t1_us"] is None
    assert got[10]["reached"] == 2


def test_funnel_plan_single_sort_no_join(spark):
    from crawler_spark.pipeline.events import funnel

    t0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [(1, t0, 7, "view", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    plan = funnel(events)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # both window passes share one user-keyed sort: exactly one Sort node
    assert plan.count("Sort ") == 1


def test_inverted_index_df_cap(spark):
    from crawler_spark.pipeline.textstats import inverted_index

    docs = spark.createDataFrame(
        [(1, "the cat the"), (2, "the dog"), (3, "the cat")],
        "doc_id long, text string",
    )
    got = {r["term"]: r.asDict() for r in inverted_index(docs, max_df=2).collect()}
    assert got["the"]["df"] == 3 and got["the"]["cf"] == 4
    assert got["the"]["capped"] is True and got["the"]["postings"] is None
    assert got["cat"] == {
        "term": "cat", "df": 2, "cf": 2, "capped": False, "postings": "1,3",
    }
    assert got["dog"]["postings"] == "2"


def test_funnel_fuzz_vs_python_fold(spark):
    """Randomized event streams: the windowed funnel must equal a pure
    fold over the (ts, event_id)-sorted stream."""
    import random

    from crawler_spark.pipeline.events import funnel

    rng = random.Random(7)
    t0 = dt.datetime(2024, 1, 1)
    types = ["view", "click", "purchase", "error"]
    rows, expect = [], {}
    eid = 0
    for user in range(12):
        evs = []
        for _ in range(rng.randint(0, 10)):
            eid += 1
            evs.append((eid, rng.randint(0, 5), rng.choice(types)))
        for e, sec, typ in evs:
            rows.append((e, t0 + dt.timedelta(seconds=sec), user, typ, 0.0, "{}"))
        t1 = t2 = t3 = None
        for e, sec, typ in sorted(evs, key=lambda x: (x[1], x[0])):
            us = int((t0 + dt.timedelta(seconds=sec)).timestamp() * 1_000_000)
            if t1 is None:
                if typ == "view":
                    t1 = us
            elif t2 is None:
                if typ == "click":
                    t2 = us
            elif t3 is None and typ == "purchase":
                t3 = us
        if evs:
            expect[user] = (
                t1, t2, t3,
                3 if t3 else 2 if t2 else 1 if t1 else 0,
            )
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        r["user_id"]: (r["t1_us"], r["t2_us"], r["t3_us"], r["reached"])
        for r in funnel(events).collect()
    }
    assert got == expect


def test_epoch_order_independent_permutations(spark):
    from crawler_spark.pipeline.assemble import epoch_order

    docs = spark.createDataFrame(
        [(i, "t") for i in range(30)], "doc_id long, text string"
    )
    rows = epoch_order(docs, n_epochs=2, n_shards=4).collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    for e, rs in by_epoch.items():
        # permutation: every doc exactly once; positions dense per shard
        assert sorted(r["doc_id"] for r in rs) == list(range(30))
        for shard in {r["shard"] for r in rs}:
            pos = sorted(r["pos"] for r in rs if r["shard"] == shard)
            assert pos == list(range(1, len(pos) + 1))
    # epochs are DIFFERENT permutations (shard assignment differs somewhere)
    m0 = {r["doc_id"]: (r["shard"], r["pos"]) for r in by_epoch[0]}
    m1 = {r["doc_id"]: (r["shard"], r["pos"]) for r in by_epoch[1]}
    assert m0 != m1


def test_dedup_agreement_matrix(spark):
    from crawler_spark.pipeline.dedup import dedup_agreement

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),   # exact dup of 1 (same simhash)
            (3, "completely different text here"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["exact_dup"], r["simhash_dup"]): r["n_docs"]
        for r in dedup_agreement(docs).collect()
    }
    assert got[(True, True)] == 2
    assert got[(False, False)] == 1
    assert (True, False) not in got  # exact implies simhash


def test_dsir_weights_exact_integer_ratio(spark):
    from crawler_spark.pipeline.assemble import dsir_weights

    docs = spark.createDataFrame(
        [
            (1, "the cat sat", "en"),
            (2, "the cat ran", "en"),
            (3, "zzz qqq www", "xx"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {
        r["doc_id"]: (r["n_toks"], r["imp_bp"])
        for r in dsir_weights(docs, docs.where("lang = 'en'")).collect()
    }
    # en tokens: 'the'/'cat' s_b=2,t_b=2 -> 30000//3 = 10000;
    # 'sat'/'ran' s_b=1,t_b=1 -> 20000//2 = 10000 (neutral ratio).
    assert got[1] == (3, 10000)
    assert got[2] == (3, 10000)
    # out-of-target tokens: s_b=1, t_b=0 -> 10000//2 = 5000 (downweighted).
    assert got[3] == (3, 5000)


def test_retention_cohorts_matrix(spark):
    """Two users, staggered first days; offsets count from each user's own
    first event and users dedup within a day."""
    from crawler_spark.pipeline.events import retention_cohorts

    rows = [
        (1, "2026-01-01 08:00:00"), (1, "2026-01-01 09:00:00"),  # same day dedups
        (1, "2026-01-03 08:00:00"),
        (2, "2026-01-02 10:00:00"), (2, "2026-01-03 10:00:00"),
    ]
    ev = spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(rows)],
        "event_id long, user_id long, ts string",
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts")
    got = {
        (r["cohort_date"], r["offset_days"]): r["n_users"]
        for r in retention_cohorts(ev).collect()
    }
    assert got == {
        ("2026-01-01", 0): 1, ("2026-01-01", 2): 1,
        ("2026-01-02", 0): 1, ("2026-01-02", 1): 1,
    }


def test_containment_asymmetric(spark):
    """A 5-shingle doc fully inside a much longer one: containment fires
    A->B only; Jaccard at the same 4/5 threshold would miss the pair."""
    from crawler_spark.pipeline.dedup import containment_pairs, ngram_jaccard_pairs

    short = "one two three four five six seven"  # 5 3-shingles
    long_ = short + " " + " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [("A", short), ("B", long_), ("C", "unrelated words entirely different here")],
        "doc_id string, text string",
    )
    got = [
        (r["contained"], r["container"]) for r in containment_pairs(docs).collect()
    ]
    assert got == [("A", "B")]
    assert ngram_jaccard_pairs(docs, threshold_num=4, threshold_den=5).count() == 0


def test_bm25_ranking_properties(spark):
    """Length normalization and tf saturation must act in the right
    direction: same tf in a longer doc scores lower; higher tf scores
    higher; docs without any query term don't appear."""
    from crawler_spark.pipeline.textstats import bm25_topk

    pad = " ".join(f"filler{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            ("short_hit", "spark engine spark core"),
            ("long_hit", "spark engine spark core " + pad),
            ("one_hit", "spark only once here with words"),
            ("miss", "nothing relevant in this document at all"),
        ],
        "doc_id string, text string",
    )
    rows = bm25_topk(docs, ("spark",), k=10).collect()
    order = [r["doc_id"] for r in rows]
    score = {r["doc_id"]: r["score"] for r in rows}
    assert "miss" not in score
    assert score["short_hit"] > score["long_hit"]  # length normalization
    assert score["short_hit"] > score["one_hit"]   # tf monotone
    assert order == sorted(order, key=lambda d: (-score[d], d))


def test_kmeans_separated_clusters(spark):
    """Two well-separated point clouds: every vector lands with its own
    cloud regardless of which seeds start where, and d2 is exact integer."""
    from crawler_spark.pipeline.similarity import kmeans_quantized

    lo = [0.1, 0.1, 0.1, 0.1]
    hi = [0.9, 0.9, 0.9, 0.9]
    rows = []
    for i in range(10):
        eps = i * 0.001
        rows.append((i * 2, [v + eps for v in lo]))      # even ids: low cloud
        rows.append((i * 2 + 1, [v - eps for v in hi]))  # odd ids: high cloud
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["cluster"] for r in kmeans_quantized(emb, k=2, iters=2).collect()}
    low_clusters = {got[i] for i in got if i % 2 == 0}
    high_clusters = {got[i] for i in got if i % 2 == 1}
    assert len(low_clusters) == 1 and len(high_clusters) == 1
    assert low_clusters != high_clusters


def test_daily_anomalies_median_and_spike(spark):
    """Lower median over an even day count; spike iff 2n > 3*med."""
    from crawler_spark.pipeline.events import daily_anomalies

    rows = []
    eid = 0
    # type 'a': daily counts 2,2,2,10 over 4 days -> lower median 2; only
    # the 10-day spikes (20 > 6). A 3-count day would also spike (6 > 6 is
    # false -> no): add type 'b' with counts 2,3 -> med 2, 3 not a spike.
    for day, n in [("01", 2), ("02", 2), ("03", 2), ("04", 10)]:
        for _ in range(n):
            rows.append((eid, 7, "a", f"2026-02-{day} 01:00:00")); eid += 1
    for day, n in [("01", 2), ("02", 3)]:
        for _ in range(n):
            rows.append((eid, 8, "b", f"2026-02-{day} 01:00:00")); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).selectExpr("event_id", "user_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts")
    got = {
        (r["event_type"], r["d"]): (r["n_events"], r["med"], r["is_spike"])
        for r in daily_anomalies(ev).collect()
    }
    assert got[("a", "2026-02-04")] == (10, 2, True)
    assert got[("a", "2026-02-01")] == (2, 2, False)
    assert got[("b", "2026-02-02")] == (3, 2, False)  # 6 > 6 is false


def test_interval_join_edges_and_cross_user(spark):
    """Half-open [start, end): the event exactly at start counts, exactly
    at end does not; events land in OTHER users' windows too."""
    from crawler_spark.pipeline.events import interval_count_join

    rows = [
        (1, 1, "2026-03-01 00:00:00"),  # u1 window [03-01 00:00, 03-03 00:00)
        (2, 2, "2026-03-02 12:00:00"),  # inside u1's window; u2's own start
        (3, 1, "2026-03-03 00:00:00"),  # exactly u1's end -> excluded from u1
        (4, 3, "2026-03-20 00:00:00"),  # isolated
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts")
    got = {r["user_id"]: r["n_events"] for r in interval_count_join(ev, hours=48).collect()}
    assert got[1] == 2  # events 1 and 2; event 3 at the boundary excluded
    assert got[2] == 2  # events 2 and 3 within [03-02 12:00, 03-04 12:00)
    assert got[3] == 1


def test_interval_join_no_nested_loop(spark):
    from crawler_spark.pipeline.events import interval_count_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = interval_count_join(ev)._jdf.queryExecution().explainString(
        ev.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_countmin_one_sided_error(spark):
    """est_n >= true_n for every probed token (count-min never
    undercounts), and a token colliding with nothing is exact."""
    from crawler_spark.pipeline.textstats import countmin_probe

    docs = spark.createDataFrame(
        [(1, "apple apple apple banana banana cherry"),
         (2, "apple banana date elderberry fig grape")],
        "doc_id long, text string",
    )
    rows = countmin_probe(docs, depth=4, width=1024, probe_k=10).collect()
    assert rows
    for r in rows:
        assert r["est_n"] >= r["true_n"]
        assert r["overcount"] == r["est_n"] - r["true_n"]
    got = {r["tok"]: r for r in rows}
    assert got["apple"]["true_n"] == 4


def test_priority_sample_partitioning_invariant(spark):
    """The two-level top-k must give the same sample under different
    physical partitionings, exactly n per stratum (or all if fewer)."""
    from crawler_spark.pipeline.assemble import priority_sample

    rows = [(i, "x" * (10 + i % 40), "en" if i % 3 else "fr", "s", 10 + i % 40)
            for i in range(200)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    a = {(r["doc_id"], r["rk"]) for r in priority_sample(docs.repartition(1), 10).collect()}
    b = {(r["doc_id"], r["rk"]) for r in priority_sample(docs.repartition(13), 10).collect()}
    assert a == b
    langs = {}
    for did, _ in a:
        langs.setdefault("en" if did % 3 else "fr", 0)
        langs["en" if did % 3 else "fr"] += 1
    assert langs == {"en": 10, "fr": 10}


def test_quantile_sketch(spark):
    from crawler_spark.pipeline.textstats import quantile_sketch

    # n_chars 1..8: buckets (bit lengths) 1,2,2,3,3,3,3,4
    d = _docs(spark, [(i, "x", "en", "s", i) for i in range(1, 9)])
    got = {r["q"]: r.asDict() for r in quantile_sketch(d).collect()}
    # p50: cum must reach 4 -> bucket 2 (cum 3) no, bucket 3 (cum 7) yes
    assert got[50]["bucket"] == 3 and got[50]["upper_bound"] == 7
    assert got[50]["cum_count"] == 7 and got[50]["total"] == 8
    # p90: need cum >= 7.2 -> bucket 4 (cum 8)
    assert got[90]["bucket"] == 4 and got[90]["upper_bound"] == 15
    assert got[99]["bucket"] == 4


def test_bpe_encode(spark):
    from crawler_spark.pipeline.textstats import bpe_encode

    # "the" -> (t)(h)(e) -> th merge -> (th)(e) -> the merge -> (the): 1 sym
    # "other" -> o t h e r -> th -> o (th) e r -> the -> o (the) r ->
    #   er? pattern (e)(r) no longer present ((the) holds the e) -> 3 syms
    # "zz" -> no merges -> 2 syms
    d = _docs(spark, [(1, "The other ZZ", "en", "s", 12)])
    r = bpe_encode(d).collect()[0]
    assert r["n_words"] == 3
    assert r["n_chars_az"] == 3 + 5 + 2
    assert r["n_symbols"] == 1 + 3 + 2
    assert r["compression_bp"] == 10000 * 6 // 10


def test_bpe_encode_exhaustive_merge(spark):
    from crawler_spark.pipeline.textstats import bpe_encode

    # "ththth": merge (t,h) applies to EVERY pair in one step -> (th)(th)(th)
    # then (th)(e) absent -> 3 symbols
    d = _docs(spark, [(1, "ththth", "en", "s", 6)])
    assert bpe_encode(d).collect()[0]["n_symbols"] == 3


def test_dup_ngram_coverage(spark):
    from crawler_spark.pipeline.textstats import dup_ngram_coverage

    shared = "one two three four"  # 4-gram shared by docs 1 and 2
    d = _docs(
        spark,
        [
            (1, shared + " tailA extra1 extra2", "en", "s", 0),
            (2, "head0 " + shared + " tailB", "en", "s", 0),
            (3, "totally different words here now", "en", "s", 0),
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in dup_ngram_coverage(d, n=4).collect()}
    L = len(shared)
    # doc1: canon = len("one two three four tailA extra1 extra2")
    assert got[1]["dup_chars"] == L
    assert got[1]["canon_chars"] == L + len(" tailA extra1 extra2")
    assert got[1]["coverage_bp"] == 10000 * L // got[1]["canon_chars"]
    assert got[2]["dup_chars"] == L
    assert got[3]["dup_chars"] == 0 and got[3]["coverage_bp"] == 0


def test_dup_ngram_coverage_overlap_union(spark):
    from crawler_spark.pipeline.textstats import dup_ngram_coverage

    # docs share FIVE tokens -> two overlapping shared 4-grams in each;
    # union must count the merged span once, not twice
    shared = "a b c d e"
    d = _docs(
        spark,
        [(1, shared + " x1 y1 z1", "en", "s", 0), (2, shared + " x2 y2 z2", "en", "s", 0)],
    )
    got = {r["doc_id"]: r.asDict() for r in dup_ngram_coverage(d, n=4).collect()}
    assert got[1]["dup_chars"] == len(shared)


def test_anchor_text(spark):
    from crawler_spark.pipeline.frontier import anchor_text

    links = spark.createDataFrame(
        [
            ("s1", "t1", "home"), ("s2", "t1", "home"), ("s3", "t1", "start"),
            # t2: tie between 'a' and 'b' -> lexicographic winner 'a'
            ("s1", "t2", "b"), ("s2", "t2", "a"), ("s3", "t2", "a"), ("s4", "t2", "b"),
        ],
        "src string, dst string, anchor string",
    )
    got = {r["dst"]: r.asDict() for r in anchor_text(links).collect()}
    assert got["t1"] == {
        "dst": "t1", "n_links": 3, "n_anchors": 2,
        "top_anchor": "home", "top_count": 2,
    }
    assert got["t2"]["top_anchor"] == "a" and got["t2"]["top_count"] == 2


def test_registered_domains_longest_match(spark):
    from crawler_spark.pipeline.frontier import registered_domains

    hosts = spark.createDataFrame(
        [("a.b.co.uk",), ("www.x.uk",), ("deep.sub.site.com",), ("nomatch.test",)],
        "host string",
    )
    sfx = spark.createDataFrame([("uk",), ("co.uk",), ("com",)], "suffix string")
    got = {r["host"]: r["reg_domain"] for r in registered_domains(hosts, sfx).collect()}
    assert got["a.b.co.uk"] == "b.co.uk"  # co.uk beats uk
    assert got["www.x.uk"] == "x.uk"
    assert got["deep.sub.site.com"] == "site.com"
    assert got["nomatch.test"] == "nomatch.test"  # fallback: last two labels


def test_domain_budget(spark):
    from crawler_spark.pipeline.frontier import domain_budget

    fr = spark.createDataFrame(
        [("h1.co.uk",)] * 250 + [("w.h1.co.uk",)] * 10 + [("solo.com",)] * 3,
        "host string",
    )
    sfx = spark.createDataFrame([("uk",), ("co.uk",), ("com",)], "suffix string")
    got = {r["reg_domain"]: r.asDict() for r in domain_budget(fr, sfx, per_host_cap=100).collect()}
    assert got["h1.co.uk"]["n_hosts"] == 2 and got["h1.co.uk"]["n_urls"] == 260
    assert got["h1.co.uk"]["budget"] == 200  # capped: 100 x 2 hosts < 260
    assert got["solo.com"]["budget"] == 3  # under cap: all 3 granted


def test_hll_registers(spark):
    from crawler_spark.pipeline.textstats import hll_registers

    df = spark.createDataFrame([(i % 40,) for i in range(1000)], "user_id long")
    rows = hll_registers(df, "user_id", m=256).collect()
    # 40 distinct values -> at most 40 occupied registers, probe sums to 40
    assert sum(r["n_distinct"] for r in rows) == 40
    assert all(1 <= r["max_rank"] <= 53 for r in rows)
    assert all(0 <= r["register"] < 256 for r in rows)
    # merge = per-register max: sketches built from DISJOINT halves,
    # max-merged, must equal the one-shot table (unioning a subset with
    # the full sketch would pass trivially)
    a = hll_registers(df.filter("user_id < 20"), "user_id", m=256)
    merged = (
        a.unionByName(hll_registers(df.filter("user_id >= 20"), "user_id", m=256))
        .groupBy("register")
        .agg({"max_rank": "max"})
        .withColumnRenamed("max(max_rank)", "max_rank")
    )
    got = {r["register"]: r["max_rank"] for r in merged.collect()}
    want = {r["register"]: r["max_rank"] for r in rows}
    assert got == want


def test_semantic_dedup(spark):
    from crawler_spark.pipeline.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]), (1, [0.0, 1.0]),          # seeds / cluster reps
            (2, [0.99, 0.01]), (3, [0.01, 0.99]),      # near-dups of 0 / 1
            (4, [-0.2, -0.9]),                          # negative cos: kept
        ],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r["keep"] for r in
           semantic_dedup(emb, k=2, iters=2, threshold_num=3, threshold_den=10).collect()}
    # exactly one survivor per near-dup pair (rank decides which), and the
    # negative-cosine vector is never dropped
    assert got[0] != got[2] and got[1] != got[3]
    assert got[4] is True
    assert sum(got.values()) == 3


def test_lateness_profile(spark):
    import datetime as dt

    from crawler_spark.pipeline.events import lateness_profile

    base = dt.datetime(2026, 1, 1)
    rows = [  # arrival order a,b,c with event times 30s, 10s, 20s
        ("u1", "a", base + dt.timedelta(seconds=30)),
        ("u1", "b", base + dt.timedelta(seconds=10)),
        ("u1", "c", base + dt.timedelta(seconds=20)),
        ("u2", "a", base), ("u2", "b", base + dt.timedelta(seconds=5)),
    ]
    ev = spark.createDataFrame(rows, "user_id string, arr string, ts timestamp")
    got = {r["user_id"]: r.asDict()
           for r in lateness_profile(ev, "arr", late_threshold_s=15).collect()}
    assert got["u1"]["n_events"] == 3 and got["u1"]["n_late"] == 2
    assert got["u1"]["max_late_us"] == 20_000_000
    assert got["u1"]["n_late_over"] == 1  # only the 20s event exceeds 15s
    assert got["u2"]["n_late"] == 0 and got["u2"]["max_late_us"] == 0


def test_ppr(spark):
    from crawler_spark.pipeline.graph import ppr

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["rank"] for r in ppr(edges, seeds, iters=2).collect()}
    # teleport = 15e9//100 = 150000000 paid only to 'a'
    assert got["a"] == 150_000_000
    assert got["b"] == 85 * 150_000_000 // 100
    assert got["c"] == 85 * 850_000_000 // 100
    assert got["d"] == 0 and got["e"] == 0  # unreached: exactly zero


# ---- property layer for the round-2 sketch/tokenizer/coverage ops ----
# (pure-Python brute force as the oracle; one Spark session, small frames)

def _ref_bpe(word, merges):
    syms = list(word)
    for a, b in merges:
        out = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_fuzz(spark):
    """bpe_encode's chained-replace rendering == classic leftmost
    exhaustive merge application, over an adversarial word list (runs,
    overlaps, merge-cascades)."""
    from crawler_spark.pipeline.textstats import BPE_MERGES, bpe_encode

    words = [
        "ththth", "thethe", "aaaa", "ananan", "andand", "rere", "erer",
        "st", "sthe", "thin", "and", "standard", "restarter", "ononon",
        "outshine", "theretherethere", "in", "ine", "nin", "a",
    ]
    d = _docs(spark, [(1, " ".join(words), "en", "s", 0)])
    r = bpe_encode(d).collect()[0]
    want = sum(len(_ref_bpe(w, BPE_MERGES)) for w in words)
    assert r["n_symbols"] == want
    assert r["n_words"] == len(words)


def _ref_dup_coverage(docs, n):
    # brute-force interval union of cross-doc duplicated n-grams
    from collections import defaultdict

    toks = {i: t.split() for i, t in docs.items()}
    gram_docs = defaultdict(set)
    for i, ts in toks.items():
        for p in range(len(ts) - n + 1):
            gram_docs[tuple(ts[p:p + n])].add(i)
    out = {}
    for i, ts in toks.items():
        if not ts:
            continue
        offs, o = [], 0
        for t in ts:
            offs.append(o)
            o += len(t) + 1
        canon = sum(map(len, ts)) + len(ts) - 1
        ivals = []
        for p in range(len(ts) - n + 1):
            if len(gram_docs[tuple(ts[p:p + n])]) >= 2:
                g = " ".join(ts[p:p + n])
                ivals.append((offs[p], offs[p] + len(g)))
        cov, cur_end = 0, -1
        for s, e in sorted(ivals):
            if s > cur_end:
                cov += e - s
                cur_end = e
            elif e > cur_end:
                cov += e - cur_end
                cur_end = e
        out[i] = (canon, cov)
    return out


def test_dup_ngram_coverage_fuzz(spark):
    from crawler_spark.pipeline.textstats import dup_ngram_coverage

    import random

    rnd = random.Random(7)
    vocab = ["w%d" % i for i in range(12)]
    docs = {
        i: " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 25)))
        for i in range(12)
    }
    d = _docs(spark, [(i, t, "en", "s", 0) for i, t in docs.items()])
    got = {r["doc_id"]: (r["canon_chars"], r["dup_chars"])
           for r in dup_ngram_coverage(d, n=3).collect()}
    want = _ref_dup_coverage(docs, 3)
    assert got == want


def test_quantile_sketch_bound_fuzz(spark):
    """The sketch's contract: for each q, the true q-th percentile lies
    within the reported bucket's value range (2^(bucket-1) .. 2^bucket-1,
    plus 0..1 for bucket 1)."""
    import random

    from crawler_spark.pipeline.textstats import quantile_sketch

    rnd = random.Random(11)
    vals = [rnd.randint(0, 100000) for _ in range(300)]
    d = _docs(spark, [(i, "x", "en", "s", v) for i, v in enumerate(vals)])
    got = {r["q"]: r.asDict() for r in quantile_sketch(d).collect()}
    sv = sorted(vals)
    for q, row in got.items():
        true_q = sv[min(len(sv) - 1, (q * len(sv) + 99) // 100 - 1)]
        lo = 0 if row["bucket"] <= 1 else 1 << (row["bucket"] - 1)
        assert lo <= true_q <= row["upper_bound"], (q, true_q, row)


def test_chunk_documents(spark):
    from crawler_spark.pipeline.assemble import chunk_documents

    # 10 tokens, chunks of 4 every 3: starts 0,3,6 (ceil(6/3)+1 = 3)
    d = _docs(spark, [(1, " ".join(f"t{i}" for i in range(10)), "en", "s", 0)])
    rows = sorted(
        (r["chunk_idx"], r["start_tok"], r["n_tok"])
        for r in chunk_documents(d, chunk_tokens=4, stride=3).collect()
    )
    assert rows == [(0, 0, 4), (1, 3, 4), (2, 6, 4)]
    # exact-fit doc: one chunk only
    d2 = _docs(spark, [(1, "a b c d", "en", "s", 0)])
    rows2 = chunk_documents(d2, chunk_tokens=4, stride=3).collect()
    assert len(rows2) == 1 and rows2[0]["n_tok"] == 4
    # one extra token: second (partial) chunk covers it
    d3 = _docs(spark, [(1, "a b c d e", "en", "s", 0)])
    rows3 = sorted((r["start_tok"], r["n_tok"]) for r in
                   chunk_documents(d3, chunk_tokens=4, stride=3).collect())
    assert rows3 == [(0, 4), (3, 2)]


def test_tokenizer_fertility(spark):
    from crawler_spark.pipeline.assemble import tokenizer_fertility

    d = _docs(
        spark,
        [
            (1, "the the", "en", "s", 0),   # 'the' -> 1 symbol each
            (2, "zz zz zz", "de", "s", 0),  # 'zz' -> 2 symbols each
        ],
    )
    got = {r["lang"]: r.asDict() for r in tokenizer_fertility(d).collect()}
    assert got["en"]["n_words"] == 2 and got["en"]["n_symbols"] == 2
    assert got["en"]["fertility_bp"] == 10000
    assert got["de"]["n_words"] == 3 and got["de"]["n_symbols"] == 6
    assert got["de"]["fertility_bp"] == 20000


def test_gap_profile(spark):
    import datetime as dt

    from crawler_spark.pipeline.events import gap_profile

    base = dt.datetime(2026, 1, 1)
    rows = [  # u1 gaps: 10s, 30s, 20s -> sorted 10,20,30; lower median 20
        ("u1", 1, base),
        ("u1", 2, base + dt.timedelta(seconds=10)),
        ("u1", 3, base + dt.timedelta(seconds=40)),
        ("u1", 4, base + dt.timedelta(seconds=60)),
        # u2: two gaps 5s, 7s -> lower median = 5s
        ("u2", 5, base), ("u2", 6, base + dt.timedelta(seconds=5)),
        ("u2", 7, base + dt.timedelta(seconds=12)),
        # u3: single event -> no gaps, absent from output
        ("u3", 8, base),
    ]
    ev = spark.createDataFrame(rows, "user_id string, event_id long, ts timestamp")
    got = {r["user_id"]: r.asDict() for r in gap_profile(ev).collect()}
    assert got["u1"] == {
        "user_id": "u1", "n_gaps": 3, "min_gap_us": 10_000_000,
        "median_gap_us": 20_000_000, "max_gap_us": 30_000_000,
    }
    assert got["u2"]["median_gap_us"] == 5_000_000
    assert "u3" not in got


def test_readability(spark):
    from crawler_spark.pipeline.textstats import readability

    # "go now. stop it now!" -> 5 words, 2 sentences, syllables(vowel runs):
    # go(1) now(1) stop(1) it(1) now(1) = 5
    d = _docs(spark, [(1, "go now. stop it now!", "en", "s", 0),
                      (2, "nopunct here", "en", "s", 0)])
    got = {r["doc_id"]: r.asDict() for r in readability(d).collect()}
    r1 = got[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (5, 2, 5)
    assert r1["wps_c"] == 250 and r1["spw_c"] == 100
    assert r1["fre_c"] == 20684 - 1015 * 250 // 1000 - 8460 * 100 // 100
    # no terminal punctuation -> sentence count floors at 1
    assert got[2]["n_sentences"] == 1


def test_type_overlap(spark):
    from crawler_spark.pipeline.events import type_overlap

    ev = spark.createDataFrame(
        [("u1", "view"), ("u1", "click"), ("u2", "view"), ("u2", "click"),
         ("u3", "view"), ("u1", "view")],  # dup (u1, view) must not double
        "user_id string, event_type string",
    )
    got = {(r["type_a"], r["type_b"]): r.asDict() for r in type_overlap(ev).collect()}
    r = got[("click", "view")]
    assert (r["n_a"], r["n_b"], r["n_both"]) == (2, 3, 2)
    assert r["jaccard_bp"] == 10000 * 2 // 3


def test_wave_fairness(spark):
    from crawler_spark.pipeline.frontier import wave_fairness

    even = spark.createDataFrame([("a", 10), ("b", 10), ("c", 10)], "host string, n long")
    assert wave_fairness(even).collect()[0]["fairness_bp"] == 10000
    skew = spark.createDataFrame([("a", 30), ("b", 0), ("c", 0)], "host string, n long")
    # one host takes all: index = 1/n -> 3333 bp
    assert wave_fairness(skew).collect()[0]["fairness_bp"] == 3333
    # production-scale regression: total ~1e10 overflowed the old int64
    # 10000*total*total path (ARITHMETIC_OVERFLOW under ANSI); decimal(38,0)
    # math must return the exact index
    big = spark.createDataFrame(
        [("a", 5_000_000_000), ("b", 5_000_000_000)], "host string, n long"
    )
    assert wave_fairness(big).collect()[0]["fairness_bp"] == 10000
    big_skew = spark.createDataFrame(
        [("a", 10_000_000_000), ("b", 0)], "host string, n long"
    )
    assert wave_fairness(big_skew).collect()[0]["fairness_bp"] == 5000


def test_host_boilerplate_strip(spark):
    """Per-source chrome removal: the shared nav segment is cut only inside
    the source where it clears the share threshold; rebuild preserves
    segment order; empty docs survive with empty clean_text."""
    from crawler_spark.pipeline.textstats import host_boilerplate_strip

    d = _docs(
        spark,
        [
            # source s1 (3 docs): "nav bar" in 2/3 = 66% -> boilerplate
            (1, "nav bar alpha beta", "en", "s1", 18),  # segs(k=2): [nav bar][alpha beta]
            (2, "nav bar gamma delta", "en", "s1", 19),
            (3, "epsilon zeta", "en", "s1", 12),
            # source s2 (2 docs): "nav bar" appears once (df=1 < min_df) -> kept
            (4, "nav bar keep me", "en", "s2", 15),
            (5, "other text", "en", "s2", 10),
            (6, " ", "en", "s2", 1),  # tokenless -> 0 segments, '' text
        ],
    )
    got = {
        r["doc_id"]: (r["n_segments"], r["n_boiler"], r["clean_text"])
        for r in host_boilerplate_strip(d, k=2, min_share_bp=5000).collect()
    }
    assert got[1] == (2, 1, "alpha beta")
    assert got[2] == (2, 1, "gamma delta")
    assert got[3] == (1, 0, "epsilon zeta")
    assert got[4] == (2, 0, "nav bar keep me")
    assert got[5] == (1, 0, "other text")
    assert got[6] == (0, 0, "")


def test_source_scorecard(spark):
    """Plurality language per source, exact floor-div means, per-mille
    corpus-duplicated segment rate."""
    from crawler_spark.pipeline.textstats import source_scorecard

    d = _docs(
        spark,
        [
            (1, "the cat and the dog is here", "en", "s1", 27),
            (2, "the cat and the dog is here", "en", "s1", 27),  # dup of 1
            (3, "le la et les des oui", "fr", "s1", 20),
            (4, "el los que de y si", "es", "s2", 18),
        ],
    )
    got = {r["source"]: r.asDict() for r in source_scorecard(d).collect()}
    s1 = got["s1"]
    assert s1["n_docs"] == 3
    assert s1["top_lang"] == "en"            # en x2 beats fr x1
    assert s1["sum_tokens"] == 20            # 7 + 7 + 6
    assert s1["mean_tokens"] == 6            # 20 div 3
    # stop_bp: docs 1/2 have 4 stopwords of 7 tokens -> 571; doc 3 none
    assert s1["mean_stop_bp"] == (571 + 571 + 0) // 3
    # docs 1/2 are each other's duplicate single segment; doc 3 unique
    assert s1["dup_seg_bp"] == 1000 * 2 // 3
    assert got["s2"]["top_lang"] == "es" and got["s2"]["dup_seg_bp"] == 0


def test_kn_bigram_exact(spark):
    """Hand-checked Kneser-Ney quarters math on 'a b a b': c(ab)=2,
    c(ba)=1, B=2, all continuation counts 1."""
    from crawler_spark.pipeline.textstats import kn_bigram

    d = _docs(spark, [(1, "a b a b", "en", "s1", 7)])
    got = {(r["t1"], r["t2"]): (r["c12"], r["kn_ppm"]) for r in kn_bigram(d).collect()}
    # P(b|a) = (4*2-3)/(4*2) + 3*1/(4*2) * 1/2 = 5/8 + 3/16 -> 13/16
    assert got[("a", "b")] == (2, 13_000_000 // 16)
    # P(a|b) = (4*1-3)/(4*1) + 3*1/(4*1) * 1/2 = 1/4 + 3/8 -> 5/8
    assert got[("b", "a")] == (1, 5_000_000 // 8)


def _ref_boilerplate(docs, k, min_share_bp, min_df):
    # docs: {doc_id: (source, text)} -> {doc_id: (n_segments, n_boiler, clean)}
    from collections import defaultdict

    segs = {}
    for i, (src, t) in docs.items():
        ts = t.lower().split()
        segs[i] = [" ".join(ts[p:p + k]) for p in range(0, len(ts), k)]
    src_docs = defaultdict(set)
    seg_docs = defaultdict(set)
    for i, (src, _) in docs.items():
        src_docs[src].add(i)
        for sg in set(segs[i]):
            seg_docs[(src, sg)].add(i)
    out = {}
    for i, (src, _) in docs.items():
        n_docs = len(src_docs[src])
        kept, n_bp = [], 0
        for sg in segs[i]:
            df = len(seg_docs[(src, sg)])
            if df >= min_df and df * 10000 >= min_share_bp * n_docs:
                n_bp += 1
            else:
                kept.append(sg)
        out[i] = (len(segs[i]), n_bp, " ".join(kept))
    return out


def test_host_boilerplate_fuzz(spark):
    from crawler_spark.pipeline.textstats import host_boilerplate_strip

    import random

    rnd = random.Random(11)
    vocab = ["w%d" % i for i in range(6)]
    rows = []
    docs = {}
    for i in range(24):
        src = "s%d" % rnd.randint(0, 2)
        # small vocab + short docs -> plenty of shared segments
        t = " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 9)))
        docs[i] = (src, t)
        rows.append((i, t, "en", src, len(t)))
    got = {
        r["doc_id"]: (r["n_segments"], r["n_boiler"], r["clean_text"])
        for r in host_boilerplate_strip(
            _docs(spark, rows), k=3, min_share_bp=4000, min_df=2
        ).collect()
    }
    want = _ref_boilerplate(docs, 3, 4000, 2)
    assert got == want


def _ref_kn(docs):
    # brute-force exact-integer KN ppm over corpus bigrams
    from collections import Counter, defaultdict

    bg = Counter()
    for t in docs:
        ts = t.lower().split()
        for a, b in zip(ts, ts[1:]):
            bg[(a, b)] += 1
    c1 = Counter()
    succ = defaultdict(set)
    pred = defaultdict(set)
    for (a, b), c in bg.items():
        c1[a] += c
        succ[a].add(b)
        pred[b].add(a)
    B = len(bg)
    out = {}
    for (a, b), c in bg.items():
        num = max(4 * c - 3, 0) * B + 3 * len(succ[a]) * len(pred[b])
        out[(a, b)] = (c, 10**6 * num // (4 * c1[a] * B))
    return out


def test_kn_bigram_fuzz(spark):
    from crawler_spark.pipeline.textstats import kn_bigram

    import random

    rnd = random.Random(13)
    vocab = ["t%d" % i for i in range(8)]
    texts = [
        " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 20)))
        for _ in range(15)
    ]
    d = _docs(spark, [(i, t, "en", "s", 0) for i, t in enumerate(texts)])
    got = {(r["t1"], r["t2"]): (r["c12"], r["kn_ppm"]) for r in kn_bigram(d).collect()}
    assert got == _ref_kn(texts)
    # probability sanity on the fuzzed corpus: every row in (0, 1e6]
    assert all(0 < p <= 10**6 for _, p in got.values())


def test_curriculum_order_quality_anneal(spark):
    """Early epochs carry the full corpus; the final epoch carries exactly
    the top final_clean_bp share by (stop_bp, n_tokens, -doc_id) quality
    rank; positions are dense per epoch and deterministic."""
    from crawler_spark.pipeline.assemble import curriculum_order

    rows = [
        # 2 high-quality docs (stopword-rich), 2 junk docs
        (1, "the cat and the dog is in a tree", "en", "s", 0),
        (2, "the fish and the bird is in a bowl", "en", "s", 0),
        (3, "zzz qqq kkk", "en", "s", 0),
        (4, "mmm nnn ppp", "en", "s", 0),
    ]
    out = curriculum_order(
        _docs(spark, rows), n_epochs=3, final_clean_bp=5000
    ).collect()
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], []).append((r["pos"], r["doc_id"]))
    assert {len(by_epoch[0]), len(by_epoch[1])} == {4}
    # final epoch = top half by quality: the two stopword-rich docs
    assert sorted(d for _, d in by_epoch[2]) == [1, 2]
    for ep, rows_ in by_epoch.items():
        assert sorted(p for p, _ in rows_) == list(range(len(rows_)))
    # epochs 0 and 1 are DIFFERENT permutations (independent hashes)
    assert [d for _, d in sorted(by_epoch[0])] != [d for _, d in sorted(by_epoch[1])]
    again = curriculum_order(
        _docs(spark, rows), n_epochs=3, final_clean_bp=5000
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_curation_cascade_stage_attribution(spark):
    """Every cascade stage fires exactly once on a hand-built corpus and
    removal is attributed to the FIRST stage that catches each doc:

    - docs 1,2,7 share a 10-token boilerplate segment (3 of 7 source
      docs = 43% >= 30% share, df 3 >= 2) -> boiler_segs_removed = 3;
    - docs 3,4 are byte-identical after stripping -> exact dedup keeps
      min doc_id 3, removes 4 (doc 4 never reaches the LSH stage);
    - docs 5,6 differ in one trailing word -> minhash-LSH (9/3) joins
      them, min doc_id 5 kept, 6 removed;
    - docs 1,3 share a 6-word phrase -> exact-substring (n=5) keeps the
      first occurrence (doc 1: smaller doc_id) and cuts doc 3's copy:
      39 chars = 34 letters + 5 separators;
    - doc 7 is 2 words after stripping -> fails the n_words >= 30 gate;
    - finals: 1 (45w), 2 (45w), 3 (40-6=34w), 5 (50w) -> 174 words.
    """
    from crawler_spark.pipeline.clean import curation_cascade

    BOILER = ("navbar homepage aboutus contact privacy terms login"
              " search help footer")
    PHRASE = "paxlo queem rindle sorval tumbek harnow"

    def body(seed, n, extra=""):
        ws = [f"w{seed}{i:02d}" for i in range(n)]
        ws[5] = "the"  # stop_hits >= 1
        return " ".join(ws) + (" " + extra if extra else "")

    b3 = body("c", 34, PHRASE)
    b5 = body("e", 50)
    rows = [
        (1, BOILER + " " + body("a", 39, PHRASE), "en", "s1", 0),
        (2, BOILER + " " + body("b", 45), "en", "s1", 0),
        (3, b3, "en", "s1", 0),
        (4, b3, "en", "s1", 0),
        (5, b5, "en", "s1", 0),
        (6, b5.rsplit(" ", 1)[0] + " zzchanged", "en", "s1", 0),
        (7, BOILER + " tiny the", "en", "s1", 0),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curation_cascade(d, substr_n=5, min_words=30, min_stop_hits=1).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r == {
        "source": "s1",
        "n_raw": 7,
        "boiler_segs_removed": 3,
        "n_exact_removed": 1,
        "n_near_removed": 1,
        "substr_chars_removed": 39,
        "n_quality_removed": 1,
        "n_final": 4,
        "sum_words_final": 174,
    }


@pytest.mark.parametrize("corpus", [
    # every corpus here is tie-dense — the only regime where the batch
    # acceptance rule can differ from the sequential loop
    ["aaaa bbbb abab baba"],
    ["ababab bababa", "ababab bababa"],
    ["xy xy yx", "xyxy yxyx", "xxyy yyxx"],
    ["column column colum colum", "col umn co lu"],
    ["aa ab ba bb", "ab ba aa bb", "bb aa ab ba"],
    ["the them theme anthem", "hem he th the", "mantle mental"],
])
def test_bpe_train_batched_tie_adversarial(spark, corpus):
    """Batched == sequential on tie-dense corpora (equal counts is the
    only regime where the acceptance rule has any work to do)."""
    from crawler_spark.pipeline.textstats import bpe_train, bpe_train_batched

    d = _docs(
        spark,
        [(i, t, "en", "s", len(t)) for i, t in enumerate(corpus)],
    )
    key = lambda r: (r["rk"], r["pair"], r["n"])
    got = [key(r) for r in
           bpe_train_batched(d, n_merges=10).orderBy("rk").collect()]
    want = [key(r) for r in bpe_train(d, n_merges=10).orderBy("rk").collect()]
    assert got == want


def test_curation_cascade_accounting_identities(spark):
    """Structural identities the cascade's stage attribution must hold
    on ANY corpus (here: the sf0.001 test corpus): per source,
    n_raw == n_exact_removed + n_near_removed + n_quality_removed +
    n_final (every doc is attributed to exactly one outcome), and the
    cleaned_corpus export is exactly the rollup's finals — same count
    per source and n_words summing to sum_words_final."""
    from pyspark.sql import functions as F

    from crawler_spark.pipeline.clean import cleaned_corpus, curation_cascade

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    roll = {r["source"]: r.asDict() for r in
            curation_cascade(docs, substr_n=5, min_words=30, min_stop_hits=1).collect()}
    exp = {
        r["source"]: (r["n"], r["w"])
        for r in cleaned_corpus(docs, substr_n=5, min_words=30, min_stop_hits=1)
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_words").alias("w"))
        .collect()
    }
    assert roll, "empty rollup"
    for src, r in roll.items():
        assert (
            r["n_raw"]
            == r["n_exact_removed"] + r["n_near_removed"]
            + r["n_quality_removed"] + r["n_final"]
        ), (src, r)
        got_n, got_w = exp.get(src, (0, 0))
        assert got_n == r["n_final"], (src, got_n, r["n_final"])
        assert (got_w or 0) == r["sum_words_final"], (src, got_w, r)


def test_curation_cascade_production_lsh_config_consistent(spark):
    """VERDICT r4 item 4: the cascade at the PRODUCTION minhash config
    (128 hashes, 8-row bands — the measured default the minhash_lsh_pairs
    docstring and SCALE.md derive) must produce stage accounting
    consistent with the oracle-tractable 9/3 config the driver gate pins.

    Structurally guaranteed at ANY corpus: n_raw, boiler_segs_removed and
    n_exact_removed are banding-independent (they are computed before the
    LSH stage). Measured fact on the sf0.01 corpus, pinned here: the
    near-dup stage TOO is identical — the synthetic near-dup pairs are
    ~full clones (Jaccard ~1), which every banding config catches, so
    downstream substr/quality/final counts coincide as well. Borderline-
    Jaccard divergence between band configs is a real effect, but it is
    covered by dedup_band_sweep (the S-curve query), not this pipeline
    identity."""
    from pyspark.sql import functions as F  # noqa: F811

    from crawler_spark.pipeline.clean import curation_cascade

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    def roll(nh, bs):
        return {
            r["source"]: r.asDict()
            for r in curation_cascade(
                docs, num_hashes=nh, band_size=bs, substr_n=5,
                min_words=30, min_stop_hits=1,
            ).collect()
        }

    small, prod = roll(9, 3), roll(128, 8)
    assert set(small) == set(prod) and small
    for src in small:
        s, p = small[src], prod[src]
        # banding-independent stages: identical by construction
        for c in ("n_raw", "boiler_segs_removed", "n_exact_removed"):
            assert s[c] == p[c], (src, c, s[c], p[c])
        # measured identity on this corpus (clone-grade near-dups)
        assert s == p, (src, s, p)


def _substr_corpus(spark):
    """Four distinct 46-word docs: docs 1,2 share a 23-char phrase,
    docs 3,4 share a 68-char one; every doc carries one stop word. The
    phrases sit mid-doc, so every 10-token boilerplate segment they touch
    also holds words of the doc's own."""
    SHORT = "paxlo queem rindle sorv"
    LONG = ("tumbek harnow vistral quobbin marrowick sellindor"
            " pantrevo gulmerist")

    def body(seed, phrase):
        ws = [f"w{seed}{i:02d}" for i in range(46)]
        ws[5] = "the"
        return " ".join(ws[:36] + [phrase] + ws[36:])

    rows = [
        (1, body("a", SHORT), "en", "s1", 0),
        (2, body("b", SHORT), "en", "s1", 0),
        (3, body("c", LONG), "en", "s1", 0),
        (4, body("d", LONG), "en", "s1", 0),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_curation_cascade_bytes_mode_defaults_to_50_char_grams(spark):
    """substr_mode="bytes" without substr_n cuts with the paper's
    50-character grams, not the word mode's 8: the 68-char shared run is
    cut, the 23-char one is kept; 8-character grams would also cut the
    short phrase and the stop-word context every doc shares."""
    from crawler_spark.pipeline.clean import curation_cascade

    d = _substr_corpus(spark)

    def removed(**kw):
        r = curation_cascade(
            d, substr_mode="bytes", min_words=30, min_stop_hits=1, **kw
        ).collect()
        return r[0]["substr_chars_removed"]

    default = removed()
    assert default == removed(substr_n=50)
    assert 0 < default < removed(substr_n=8)


def test_cleaned_corpus_packed_leaves_no_cached_relation(spark):
    """pack_sequences caches its prefix-sum relation; the composition must
    release it, so no call leaves a session-lifetime cache entry."""
    from crawler_spark.pipeline.clean import cleaned_corpus_packed

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    out = cleaned_corpus_packed(
        _substr_corpus(spark), capacity=64, substr_n=5, min_words=30,
        min_stop_hits=1,
    )
    rows = out.collect()
    assert len(rows) == 4 and sum(r["n_bins"] for r in rows) >= 4
    del out
    assert cache.isEmpty()


def test_cleaned_corpus_packed_empty_when_every_doc_fails_gopher(spark):
    """A corpus the Gopher floors reject whole (46-word docs under the
    default 50-word floor) packs to an empty frame, not an error."""
    from crawler_spark.pipeline.clean import cleaned_corpus_packed

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    out = cleaned_corpus_packed(_substr_corpus(spark), capacity=64, substr_n=5)
    assert out.collect() == []
    assert "n_bins" in out.columns
    assert cache.isEmpty()


def test_exact_substring_dedup_bytes_char_exact(spark):
    """Byte-level ExactSubstr semantics on a hand corpus: a shared run
    is cut from every copy but the first with boundaries exact to the
    CHARACTER (the word-level variant would round to word boundaries);
    a doc with no >=n-char duplicated run is untouched; within-doc
    repeats of a duplicated run are cut too; and the word-level
    operator's refactor onto the shared _cut_spans helper changes
    nothing (its gated oracle row re-verified separately)."""
    from crawler_spark.pipeline.textstats import exact_substring_dedup_bytes

    SHARED = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (1, SHARED, "en", "s", 0),
        (2, "XX " + SHARED + " YY", "en", "s", 0),
        (3, "unique text entirely different content here", "en", "s", 0),
        (4, "ZZ " + SHARED + " mm " + SHARED, "en", "s", 0),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r.asDict() for r in exact_substring_dedup_bytes(d, n=20).collect()}
    # doc 1 is the global first occurrence: untouched
    assert out[1]["clean_text"] == SHARED and out[1]["removed_chars"] == 0
    # doc 2: the shared 62-char run cut EXACTLY (both frame spaces
    # survive — the island is precisely the duplicated region)
    assert out[2]["clean_text"] == "XX  YY"
    assert out[2]["removed_chars"] == len(SHARED)
    # doc 3: no duplicated >=20-char substring
    assert out[3]["removed_chars"] == 0
    # doc 4: BOTH of its copies cut (within-doc repeat included)
    assert SHARED not in out[4]["clean_text"]
    assert out[4]["n_removed_spans"] >= 1
    # determinism
    again = {r["doc_id"]: r["clean_text"]
             for r in exact_substring_dedup_bytes(d, n=20).collect()}
    assert again == {k: v["clean_text"] for k, v in out.items()}


def test_exact_substring_bytes_hash_keys_identical(spark):
    """The shipped shuffle-width mitigation: keying the keeper shuffle on
    xxhash64(gram) (8 bytes/row) instead of the n-char gram text must be
    result-IDENTICAL on real corpora — a difference would need two
    distinct n-grams colliding in a 64-bit hash. Pinned on the sf0.001
    documents at two gram widths."""
    from crawler_spark.pipeline.textstats import exact_substring_dedup_bytes

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for n in (30, 60):
        raw = sorted(
            map(tuple, exact_substring_dedup_bytes(docs, n=n).collect())
        )
        hashed = sorted(
            map(tuple, exact_substring_dedup_bytes(docs, n=n, hash_keys=True).collect())
        )
        assert raw == hashed
        assert any(r[2] > 0 for r in raw)  # the stage is active


def test_exact_substring_winnow_containment_and_guarantee(spark):
    """Winnowing-sampled removal properties on the sf0.001 corpus and a
    hand-built run:

    - CONTAINMENT: every char the sampled pass removes, the
      full-resolution pass removes too (selected spans are a subset of
      all spans, and dropping occurrences can only move a gram's keeper
      earlier or erase the cut) — per-doc removed_chars <= exact, and
      the sampled clean_text is reconstructible from the exact removal
      intervals (checked positionally on the hand corpus);
    - DETECTION GUARANTEE: a duplicated run of length >= n + w - 1 is
      always cut in its non-first copy, with only edge slack left (the
      leftover in each copy is shorter than w + n chars, never the run);
    - DENSITY: the sampled pass shuffles far fewer candidate spans —
      observable as strictly fewer removal spans than offsets in the
      run, while the exact pass cuts one island covering it.
    """
    from crawler_spark.pipeline.textstats import (
        exact_substring_dedup_bytes,
        exact_substring_dedup_winnow,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ex = {r["doc_id"]: r["removed_chars"]
          for r in exact_substring_dedup_bytes(docs, n=40).collect()}
    wi = {r["doc_id"]: r["removed_chars"]
          for r in exact_substring_dedup_winnow(docs, n=40, w=8).collect()}
    assert set(ex) == set(wi)
    assert all(wi[k] <= ex[k] for k in ex)
    assert sum(wi.values()) > 0  # the sampled pass is active on the corpus

    SH = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet"
          " kilo lima mike november oscar papa quebec romeo sierra tango")
    n, w = 20, 6
    rows = [(1, SH, "e", "s", 0), (2, "XX " + SH + " YY", "e", "s", 0)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r.asDict()
           for r in exact_substring_dedup_winnow(d, n=n, w=w).collect()}
    # first copy untouched; second copy's leftover is only edge slack
    assert out[1]["removed_chars"] == 0
    assert out[2]["removed_chars"] >= len(SH) - 2 * (n + w)
    leftover = out[2]["clean_text"].replace("XX ", "").replace(" YY", "")
    assert len(leftover) < 2 * (n + w) and SH not in out[2]["clean_text"]
    # determinism
    again = {r["doc_id"]: r["clean_text"]
             for r in exact_substring_dedup_winnow(d, n=n, w=w).collect()}
    assert again == {k: v["clean_text"] for k, v in out.items()}


def test_curation_cascade_bytes_mode_consistent(spark):
    """The byte-mode cascade (substr_mode="bytes" — RefinedWeb's
    paper-fidelity ExactSubstr stage) must agree with word mode on every
    stage UPSTREAM of the substring pass (boiler/exact/near counts are
    substring-granularity-independent by construction), be ACTIVE on the
    sf0.01 corpus at the gated n=30 width, and keep the per-doc outcome
    partition (n_raw == exact + near + quality + final per source)."""
    from pyspark.sql import functions as F  # noqa: F811

    from crawler_spark.pipeline.clean import curation_cascade

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    def roll(mode, n):
        return {
            r["source"]: r.asDict()
            for r in curation_cascade(
                docs, substr_n=n, substr_mode=mode,
                min_words=30, min_stop_hits=1,
            ).collect()
        }

    words, bytes_ = roll("words", 5), roll("bytes", 30)
    assert set(words) == set(bytes_) and words
    total_cut = 0
    for src in words:
        wr, br = words[src], bytes_[src]
        for c in ("n_raw", "boiler_segs_removed", "n_exact_removed",
                  "n_near_removed"):
            assert wr[c] == br[c], (src, c)
        assert br["n_raw"] == (
            br["n_exact_removed"] + br["n_near_removed"]
            + br["n_quality_removed"] + br["n_final"]
        )
        total_cut += br["substr_chars_removed"]
    assert total_cut > 0  # the byte stage actually fires at n=30

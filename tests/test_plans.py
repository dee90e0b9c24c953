"""Physical-plan regression tests: lock in the scale properties the engine
relies on (column pruning into the parquet scan, predicate pushdown,
broadcast joins for small sides, partial aggregation) so a refactor can't
silently regress them. See SURVEY.md §4.2-4.3."""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _pristine_plan_session(spark):
    """Plan-string assertions must see the session as a fresh reader
    would: another module's cached relation over the same parquet files
    (e.g. test_similarity_scale's module fixtures) would swap the
    parquet scan for an InMemoryRelation and break every scan-shape
    pin below. Clear the relation cache before each plan test — cheap
    (metadata only) and makes this module order-independent."""
    spark.catalog.clearCache()
    yield


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _read_schema_cols(plan: str) -> list[set[str]]:
    """Column sets of every parquet ReadSchema in the plan."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()}
        out.append(cols)
    return out


def test_text_fingerprint_prunes_columns(spark):
    from crawler_spark.pipeline.textstats import fingerprint

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(fingerprint(docs))
    schemas = _read_schema_cols(plan)
    assert schemas, plan
    # only doc_id + text reach the scan; lang/source/n_chars are pruned
    assert all(s <= {"doc_id", "text"} for s in schemas), schemas


def test_content_filter_pushes_predicate(spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("n_chars") > 5000).select("doc_id")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,5000)]" in plan, plan


def test_cosine_topk_broadcasts_queries(spark):
    from crawler_spark.pipeline.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(cosine_topk(emb, query_ids=[0, 1, 2], k=5))
    # the tiny query side must broadcast — no shuffle of the corpus
    assert "BroadcastExchange" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_seen_antijoin_uses_join_not_cartesian(spark):
    from crawler_spark.operators.dedup import anti_join_seen

    cand = spark.read.parquet(f"{SF}/orders.parquet").selectExpr(
        "CAST(o_orderkey AS STRING) AS key", "o_custkey"
    )
    seen = spark.read.parquet(f"{SF}/lineitem.parquet").selectExpr(
        "CAST(l_orderkey AS STRING) AS key"
    )
    plan = _plan(anti_join_seen(cand, seen, "key"))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan
    # exact and JVM-only: no Python probe on either side of the join
    for node in _PYTHON_NODES:
        assert node not in plan, plan


_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")


def _assert_local(df) -> None:
    """A frame built from driver rows must plan as a task-free local
    relation, never as a pickled RDD scan (one Python worker per task)."""
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_round_driver_frames_are_local_relations(spark, tmp_path):
    from pyspark.sql import functions as F

    from crawler_spark import schemas
    from crawler_spark.engine import CrawlEngine
    from crawler_spark.fixtures import make_fixture
    from crawler_spark.operators.parse import _rules_df
    from crawler_spark.operators.seq import finalize_dense_seq, prepare_dense_seq
    from crawler_spark.operators.topk import budgeted_topk, budgets_df

    fx = make_fixture()
    eng = CrawlEngine(
        spark, str(tmp_path / "state"), None, fx.tasks, fx.rules, fx.robots,
        fx.round_s,
    )
    for df in (eng._tasks_df, eng._robots_df, eng._host_budgets):
        _assert_local(df)
    _assert_local(budgets_df(spark, {"a": 3, "b": 5}, "task"))
    _assert_local(_rules_df(spark, fx.rules))
    for schema in (schemas.FRONTIER, schemas.SEEN):
        _assert_local(schemas.local_frame(spark, [], schema))
    _assert_local(schemas.local_frame(spark, fx.seeds, schemas.FRONTIER))

    rows = spark.range(40).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("task"),
        F.lit(0).alias("priority"),
        F.col("id").alias("seq"),
    )
    # the top-k budgets side: no RDD scan anywhere in the pop
    picked = budgeted_topk(
        rows, "task", {"a": 3}, 1 << 40, group_counts={"a": 20, "b": 20}
    )
    plan = _plan(picked)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    # the seq offsets broadcast
    prep = prepare_dense_seq(rows, ["seq"], bound=39, n_parts=2)
    plan = _plan(finalize_dense_seq(prep, {0: 20, 1: 20}, 100))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    prep.unpersist()


def test_pricing_summary_has_partial_aggregation(spark):
    import __spark_entry__ as entrymod

    df = entrymod.q_agg_pricing_summary(spark, SF)
    plan = _plan(df)
    # map-side partial agg before the exchange, final after — two
    # HashAggregate nodes around one shuffle
    assert "partial_sum" in plan, plan
    assert "hashpartitioning" in plan, plan


def _tree(df) -> list[str]:
    """The executed plan, one node per line, children indented below."""
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def test_budgeted_topk_prunes_map_side_before_exchange(spark):
    """The task-level wave pop must prune each map partition to K rows per
    cut group BEFORE the group's exchange, so the shuffled volume is
    O(K x partitions), not O(candidates). The prune is Spark's
    WindowGroupLimit (Partial); K = 5,000 is above Spark's default
    windowGroupLimitThreshold (1,000), so this also pins the session's
    raised threshold."""
    from pyspark.sql import functions as F

    from crawler_spark.operators.topk import budgeted_topk

    rows = spark.range(20000).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("task"),
        (F.col("id") % 7).cast("int").alias("priority"),
        F.col("id").alias("seq"),
    )
    picked = budgeted_topk(
        rows, "task", {"a": 5000, "b": 3}, default_budget=5,
        group_counts={"a": 10000, "b": 10000},
    )
    tree = _tree(picked)
    ex = [i for i, ln in enumerate(tree) if "Exchange hashpartitioning(task" in ln]
    assert len(ex) == 1, "\n".join(tree)
    below = tree[ex[0] + 1:]
    depth = _indent(tree[ex[0]])
    subtree = below[: next(
        (i for i, ln in enumerate(below) if _indent(ln) <= depth), len(below)
    )]
    assert any(
        "WindowGroupLimit" in ln and ln.rstrip().endswith("5000, Partial")
        for ln in subtree
    ), "\n".join(tree)
    assert "HashAggregate" not in "\n".join(tree)


def test_budgeted_topk_host_level_one_exchange_no_counts(spark):
    """With DataFrame budgets (the host level) the pop is one window by
    host and a join of the budgets: exactly one exchange on the host key,
    and no per-host count aggregate."""
    from pyspark.sql import functions as F

    from crawler_spark.operators.topk import budgeted_topk, budgets_df

    rows = spark.range(2000).select(
        F.concat(F.lit("h"), (F.col("id") % 13).cast("string")).alias("host"),
        (F.col("id") % 3).cast("int").alias("priority"),
        F.col("id").alias("seq"),
    )
    budgets = budgets_df(spark, {"h1": 3, "h2": 0}, "host")
    plan = "\n".join(_tree(budgeted_topk(rows, "host", budgets, default_budget=40)))
    assert len(re.findall(r"Exchange hashpartitioning\(host", plan)) == 1, plan
    assert "HashAggregate" not in plan, plan


def test_budgeted_topk_plan_size_independent_of_group_count(spark):
    """Budgets enter the plan as a joined DataFrame, never a per-group CASE
    chain: with the north rule's 10^7+ hosts an O(#groups) expression tree
    (or a driver dict) cannot exist. The plan's textual size must stay flat
    as the budget table grows 100x."""
    from crawler_spark.operators.topk import budgeted_topk, budgets_df

    ev = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_type AS task", "CAST(user_id AS INT) AS priority", "event_id AS seq"
    )
    small = budgets_df(spark, {f"h{i}": 5 for i in range(10)}, "task")
    big = budgets_df(spark, {f"h{i}": 5 for i in range(1000)}, "task")
    plan_small = _plan(budgeted_topk(ev, "task", small, default_budget=5))
    plan_big = _plan(budgeted_topk(ev, "task", big, default_budget=5))
    assert len(plan_big) < len(plan_small) * 2, (
        len(plan_small), len(plan_big),
    )
    assert "CASE WHEN" not in plan_big or plan_big.count("CASE WHEN") < 10


def test_minhash_signatures_single_shuffle(spark):
    """The whole shingle->signature pipeline must be ONE exchange: the
    posexplode->window shuffle on doc_id, whose HashPartitioning the
    signature aggregation reuses (no second exchange before the mins)."""
    from crawler_spark.pipeline.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_signatures(docs))
    n_exchanges = len(re.findall(r"\n\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    # and the aggregation must be sort-based, reusing the window's
    # (doc_id, pos) sort — a hash re-aggregation would re-buffer every
    # shingle instance
    assert "SortAggregate" in plan, plan


def test_ivf_assign_is_shuffle_free(spark):
    """IVF coarse quantization is one codegen corpus scan: centroids are
    inlined literals, so no exchange and no join of any kind appears."""
    from crawler_spark.pipeline.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(ivf_assign(emb))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_jvm_parse_is_pure_projection(spark):
    """The JVM parse path adds no exchange, no join, no window — it must
    stay a per-row projection so the fetch join's partitioning survives."""
    from crawler_spark.operators.parse_jvm import with_jvm_parse
    from crawler_spark.textcore import Rule

    rule = Rule(task="t", rule="r",
                link_regex=r'<a href="(/x/[^"]+)">([^<]+)</a>',
                url_prefix="http://h", next_rule="r2", next_priority=1)
    df = spark.createDataFrame(
        [("t", "r", "http://h/", "<a href=\"/x/1\">one</a>", {})],
        "task string, rule string, curl string, body string, tmp map<string,string>",
    )
    plan = _plan(with_jvm_parse(df, [rule]))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_caption_pairs_single_window_no_join(spark):
    from crawler_spark.pipeline.interleaved import caption_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(caption_pairs(docs))
    # adjacency via ONE doc_id-partitioned lag/lead window — never a
    # spans-x-spans self-join, and never an unpartitioned window
    assert plan.count("Window") >= 1, plan
    assert "Join" not in plan, plan
    assert "PartitionBy: [doc_id" in plan or "partitionBy" in plan.lower() or \
        re.search(r"Arguments:.*doc_id", plan), plan


def test_modality_mix_no_explode_no_window(spark):
    from crawler_spark.pipeline.interleaved import modality_mix

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(modality_mix(docs))
    # closed-form span counts: one projection + one agg; spans are never
    # materialized (no Generate/explode), no window, one shuffle on lang
    assert "Generate" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # partial->final agg exchange(s)


def test_ccnet_buckets_broadcasts_cutoffs(spark):
    from crawler_spark.pipeline.textstats import ccnet_buckets

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(ccnet_buckets(docs))
    # the histogram-derived bucket relation joins back via broadcast —
    # the per-doc side is never globally sorted or rank-windowed by lang
    assert "BroadcastHashJoin" in plan, plan


def test_trap_templates_partial_agg(spark):
    from pyspark.sql import functions as F

    from crawler_spark.pipeline.frontier import trap_templates

    o = spark.read.parquet(f"{SF}/orders.parquet")
    urls = o.select(
        F.concat(F.lit("http://h"), F.col("o_custkey") % 20,
                 F.lit(".x/e/"), F.col("o_orderkey")).alias("url")
    )
    plan = _plan(trap_templates(urls))
    # count(DISTINCT url) keyed (host, template) must partial-aggregate
    # map-side before the exchange (duplicates collapse before shuffle)
    assert "partial_count" in plan or "HashAggregate" in plan, plan
    assert plan.index("HashAggregate") < plan.index("Exchange"), plan


def test_gopher_rules_is_pure_projection(spark):
    """The quality-rule filter must evaluate at scan speed: no Exchange,
    no Window, no Join — one projection over the pruned (doc_id, text)
    scan, so it composes with partition pruning for free."""
    from crawler_spark.pipeline.textstats import gopher_rules

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(gopher_rules(docs))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan and "Join" not in plan, plan
    schemas = _read_schema_cols(plan)
    assert all(s <= {"doc_id", "text"} for s in schemas), schemas


def test_components_keyed_exchanges_only(spark):
    """Hash-min propagation must shuffle by key (hashpartitioning), never
    collapse to a single partition or a cartesian product."""
    from crawler_spark.pipeline.graph import components

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    plan = _plan(components(e, iters=2))
    assert "CartesianProduct" not in plan and "SinglePartition" not in plan, plan


def test_inverted_index_no_unbounded_window(spark):
    """Posting lists are collected only after the df-cap semi-join; the
    plan must carry keyed aggregations, no Window at all (a rank-window
    over raw term instances would funnel hot terms)."""
    from crawler_spark.pipeline.textstats import inverted_index

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(inverted_index(docs))
    assert "Window" not in plan, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_pack_interleaved_window_is_bucket_partitioned(spark):
    """The packing prefix sum must never be a global window: every Window
    node in the plan carries a partition spec (the arithmetic _bucket)."""
    import re as _re

    from crawler_spark.pipeline.interleaved import pack_interleaved

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pack_interleaved(docs, bound=10**6))
    for m in _re.finditer(r"Arguments: \[[^\]]*windowspecdefinition\(([^)]*)\)", plan):
        assert "_bucket" in m.group(1), m.group(0)


def test_triangles_no_cartesian(spark):
    """The closing join must be an equi-join (hash/sort-merge), never a
    nested-loop — the OR-of-orientations formulation would regress to one."""
    from crawler_spark.pipeline.graph import triangles

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    e = li.selectExpr("CAST(l_orderkey AS STRING) AS src",
                      "CAST(l_suppkey AS STRING) AS dst")
    plan = _plan(triangles(e))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_kmeans_broadcasts_centroids(spark):
    """Vectors must never shuffle against each other: the only join with
    the corpus side is the broadcast of the k-row centroid relation."""
    from crawler_spark.pipeline.similarity import kmeans_quantized

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(kmeans_quantized(emb, k=2, iters=1))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bm25_prunes_and_filters_before_agg(spark):
    """Query-term restriction must reach the scan side (pushed filter on
    the exploded instances happens post-explode, but the parquet scan
    must only read doc_id + text), and the final top-k must be a
    TakeOrderedAndProject, not a global Sort."""
    from crawler_spark.pipeline.textstats import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bm25_topk(docs, ("spark", "hash"), k=5))
    schemas = _read_schema_cols(plan)
    assert schemas and all(s <= {"doc_id", "text"} for s in schemas), schemas
    assert "TakeOrderedAndProject" in plan, plan


def test_retention_single_user_exchange_reuse(spark):
    """Both aggregations key on user_id; the final rollup is the only
    other exchange. No window over raw events may appear."""
    from crawler_spark.pipeline.events import retention_cohorts

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(retention_cohorts(ev))
    assert "Window" not in plan, plan


def test_anchor_text_no_window_partial_agg(spark):
    from pyspark.sql import functions as F

    from crawler_spark.pipeline.frontier import anchor_text

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    links = li.select(
        F.col("l_orderkey").cast("string").alias("src"),
        F.col("l_partkey").cast("string").alias("dst"),
        F.col("l_returnflag").alias("anchor"),
    )
    plan = _plan(anchor_text(links))
    # plurality pick is a min(struct) aggregation — never a per-dst window
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "HashAggregate" in plan, plan


def test_domain_budget_broadcasts_suffixes(spark):
    from pyspark.sql import functions as F

    from crawler_spark.pipeline.frontier import domain_budget

    o = spark.read.parquet(f"{SF}/orders.parquet")
    fr = o.select(
        F.concat(F.lit("h"), (F.col("o_custkey") % 5).cast("string"),
                 F.lit(".co.example")).alias("host")
    )
    sfx = spark.createDataFrame(
        [("example",), ("co.example",)], "suffix string"
    )
    plan = _plan(domain_budget(fr, sfx))
    # the public-suffix theta-join must broadcast the suffix list, and the
    # longest-match pick is an aggregation, not a window
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Window" not in plan, plan


def test_dup_ngram_coverage_windows_are_doc_partitioned(spark):
    from crawler_spark.pipeline.textstats import dup_ngram_coverage

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dup_ngram_coverage(docs, n=4))
    # every Window in the plan is partitioned by doc_id — an unpartitioned
    # island sweep would serialize the corpus through one task
    for m in re.finditer(r"Arguments: \[[^\]]*windowspecdefinition\(([^)]*)\)", plan):
        assert "doc_id" in m.group(1), m.group(0)
    assert "windowspecdefinition" in plan, plan


def test_quantile_sketch_no_window_no_sort(spark):
    from crawler_spark.pipeline.textstats import quantile_sketch

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(quantile_sketch(docs))
    # cumulation is the <=64x64 bucket self-join — no global sort, no window
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" not in plan, plan


def test_semantic_dedup_joins_on_cluster_not_cartesian(spark):
    from crawler_spark.pipeline.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(semantic_dedup(emb, k=2, iters=1))
    # the pairwise stage must key on cluster equality (N^2/k), never a
    # cartesian product of the corpus with itself
    assert "CartesianProduct" not in plan, plan


def test_idf_drift_single_agg_no_join_between_halves(spark):
    from crawler_spark.pipeline.textstats import idf_drift

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(idf_drift(docs))
    # both halves' dfs come from ONE conditional-sum aggregation; the only
    # join is the 1-row totals broadcast
    joins = len(re.findall(
        r"\(\d+\) (?:BroadcastNestedLoopJoin|SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
        plan,
    ))
    assert joins <= 1, plan


def test_host_boilerplate_no_cartesian_keyed_joins(spark):
    """The boilerplate join must stay keyed on (source, hash) with the
    tiny per-source doc-count side broadcast — no cartesian anywhere, and
    no unpartitioned window."""
    from crawler_spark.pipeline.textstats import host_boilerplate_strip

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(host_boilerplate_strip(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "WindowExec: No Partition Defined" not in plan


def test_drain_plan_broadcasts_delays_and_max(spark):
    """Both small sides (the delay table and the 1-row global max) must
    broadcast; the only shuffle is the host count aggregation."""
    from pyspark.sql import functions as F

    from crawler_spark.pipeline.frontier import drain_plan

    fr = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.concat(F.lit("h"), (F.col("o_custkey") % 50).cast("string")).alias("host")
    )
    delays = spark.range(0, 50, 3).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        (F.col("id") % 7 + 1).cast("long").alias("crawl_delay_s"),
    )
    plan = _plan(drain_plan(fr, delays))
    assert plan.count("BroadcastExchange") >= 2, plan
    # the frontier side itself must never broadcast (it's the big side)
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_kn_bigram_single_instance_pass(spark):
    """succ/pred/B must derive from the MATERIALIZED bigram relation: the
    explode+aggregate runs once at checkpoint time, so the final plan has
    zero Generate nodes and reads the checkpointed relation instead
    (without the checkpoint the explode re-ran 4x — once per derived
    aggregate); the 1-row B side broadcasts."""
    from crawler_spark.pipeline.textstats import kn_bigram

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(kn_bigram(docs))
    assert plan.count("Generate") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_source_scorecard_no_unpartitioned_window(spark):
    from crawler_spark.pipeline.textstats import source_scorecard

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(source_scorecard(docs))
    assert "CartesianProduct" not in plan, plan
    assert "WindowExec: No Partition Defined" not in plan


def test_pq_topk_broadcasts_codebooks_no_cartesian(spark):
    """Codebook and distance-table sides must broadcast (the corpus-code
    relation is the only big side) and nothing may go cartesian."""
    from crawler_spark.pipeline.similarity import pq_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(pq_topk(emb, [0, 1], m=4, k_codes=4, iters=1, topk=5))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_pipeline_clean_materialized_boundaries(spark):
    """The composed curation cascade must hand each stage ONE
    materialized relation: without the stage-boundary localCheckpoints
    (Iceberg-table writes in production) Catalyst inlines every stage
    into every reference and the composed plan re-reads the raw corpus
    once per reference (measured 89 parquet scans of documents at
    sf0.001). Pin: the final rollup's plan contains ZERO parquet scans
    (the corpus was read exactly once, by stage 1, before the first
    boundary) and nothing cartesian."""
    from crawler_spark.pipeline.clean import curation_cascade

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(curation_cascade(docs, substr_n=5, min_words=30, min_stop_hits=1))
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pipeline_clean_pack_single_flag_computation(spark):
    """Export -> packing composition (cleaned_corpus_packed): the
    cascade's flag relation is computed ONCE — the export is
    materialized (localCheckpoint = the production Iceberg corpus-table
    commit) before the packer's bound probe / totals pass / final
    projection, so the composed plan contains ZERO parquet scans (the
    raw corpus was read exactly once, by cascade stage 1) and nothing
    cartesian. Without the boundary the packer's three consumers would
    re-execute the whole cascade each."""
    from crawler_spark.pipeline.clean import cleaned_corpus_packed

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        cleaned_corpus_packed(
            docs, capacity=512, substr_n=5, min_words=30, min_stop_hits=1
        )
    )
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the prefix-sum window must ride the bucket repartition, never a
    # single-partition global window
    assert "WindowExec: No Partition Defined" not in plan


def test_ivf_pq_topk_probes_broadcast_no_cartesian(spark):
    """The IVF-PQ composite inherits both halves' plan contracts: probes
    and the ADC distance table broadcast, the corpus-code side never
    does, and nothing goes cartesian."""
    from crawler_spark.pipeline.similarity import ivf_pq_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(ivf_pq_topk(emb, [0, 1], nprobe=2, m=4, k_codes=4, iters=1, topk=5))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan


def test_ivf_pq_residual_topk_probes_broadcast_no_cartesian(spark):
    """Residual IVFPQ keeps the composite's plan contract: centroid
    table, probes, and per-cell ADC table broadcast; codes never do;
    nothing cartesian."""
    from crawler_spark.pipeline.similarity import ivf_pq_residual_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(
        ivf_pq_residual_topk(emb, [0, 1], nprobe=2, m=4, k_codes=4, iters=1, topk=5)
    )
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan

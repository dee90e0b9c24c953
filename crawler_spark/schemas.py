"""Fixed StructType schemas for every engine table.

The reference is schema-dynamic (map[string]interface{} payloads,
spider/storage.go:7-10); here everything is a declared StructType —
see SURVEY.md §1.2 for the mapping. The ``documents`` spans shape is fixed
by BASELINE.json input_hint:
``(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# One row per pending request (reference Request, spider/request.go:74-82).
# `curl` = canonical URL, `key` = md5(curl + method) (spider/request.go:113-117
# extended with canonicalization per BASELINE.json north_star).
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("curl", StringType(), False),
        StructField("host", StringType(), False),
        StructField("method", StringType(), False),
        StructField("key", StringType(), False),
        StructField("task", StringType(), False),
        StructField("rule", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("priority", IntegerType(), False),
        StructField("seq", LongType(), False),
        StructField("attempt", IntegerType(), False),
        StructField("tmp", MapType(StringType(), StringType()), True),
    ]
)

# Simulated web corpus standing in for live HTTP (collect/collect.go:42-83).
WEB_GRAPH = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("status", IntegerType(), False),
        StructField("body", StringType(), False),
        StructField("latency_ms", IntegerType(), False),
    ]
)

# WEB_GRAPH variant serving raw encoded bytes for some pages (body NULL,
# body_bytes set): the fetch stage must charset-sniff + transcode
# (collect/collect.go:85-97) to recover the canonical str body.
WEB_GRAPH_BYTES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("status", IntegerType(), False),
        StructField("body", StringType(), True),
        StructField("latency_ms", IntegerType(), False),
        StructField("body_bytes", BinaryType(), True),
    ]
)

# URL-seen set (reference visited map, engine/schedule.go:412-429).
SEEN = StructType(
    [
        StructField("key", StringType(), False),
        StructField("url", StringType(), False),
        StructField("round", IntegerType(), False),
    ]
)

SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("offset", IntegerType(), False),
    ]
)

# input_hint shape, exact.
DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN), False),
    ]
)

# Extracted items (reference DataCell envelope, spider/request.go:22-34;
# wall-clock Time becomes the deterministic round stamp).
RESULTS = StructType(
    [
        StructField("task", StringType(), False),
        StructField("rule", StringType(), False),
        StructField("url", StringType(), False),
        StructField("round", IntegerType(), False),
        StructField("data", MapType(StringType(), StringType()), True),
    ]
)

# Task configs (reference Task + options, spider/task.go:33-42,
# spider/option.go:8-19). Limits mirror limiter tiers
# (event_count per event_dur_s, burst=bucket; limiter/limiter.go:16-27).
LIMIT_TIER = StructType(
    [
        StructField("event_count", IntegerType(), False),
        StructField("event_dur_s", IntegerType(), False),
        StructField("bucket", IntegerType(), False),
    ]
)

TASKS = StructType(
    [
        StructField("name", StringType(), False),
        StructField("reload", BooleanType(), False),
        StructField("max_depth", IntegerType(), False),
        StructField("limits", ArrayType(LIMIT_TIER), False),
        StructField("closed", BooleanType(), False),
    ]
)

# Rules-as-data (reference RuleTree, spider/parse.go:4-14; covers the
# behavior of all three bundled parsers — SURVEY.md §3.3).
RULES = StructType(
    [
        StructField("task", StringType(), False),
        StructField("rule", StringType(), False),
        StructField("link_regex", StringType(), True),
        StructField("url_prefix", StringType(), True),
        StructField("next_rule", StringType(), True),
        StructField("next_priority", IntegerType(), False),
        StructField("carry_field", StringType(), True),
        StructField("item_fields", ArrayType(StringType()), True),
        StructField("item_regexes", MapType(StringType(), StringType()), True),
        StructField("filter_regex", StringType(), True),
        StructField("emit_url_as", StringType(), True),
    ]
)

# Politeness state carried across rounds. carry_num is the integer
# token-bucket numerator: stored_tokens * event_dur_s (exact arithmetic so
# the Spark engine and the pure-Python oracle agree bit-for-bit).
BUDGETS = StructType(
    [
        StructField("task", StringType(), False),
        StructField("tier", IntegerType(), False),
        StructField("event_count", IntegerType(), False),
        StructField("event_dur_s", IntegerType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("carry_num", LongType(), False),
    ]
)

ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("disallow_prefixes", ArrayType(StringType()), False),
        StructField("crawl_delay_ms", IntegerType(), False),
    ]
)

# Keys that failed once (the single-retry ledger, engine/schedule.go:431-447).
FAILED_ONCE = StructType([StructField("key", StringType())])

# Per-round metrics (north_rule: per-partition lineage + fetch metrics).
ROUND_METRICS = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("task", StringType(), False),
        StructField("selected", LongType(), False),
        StructField("fetched_ok", LongType(), False),
        StructField("failed", LongType(), False),
        StructField("retried", LongType(), False),
        StructField("new_links", LongType(), False),
        StructField("items", LongType(), False),
    ]
)

LINEAGE = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("rows", LongType(), False),
    ]
)

# Permanent failures (after the single retry; engine/schedule.go:431-447).
FAILURES = StructType(
    [
        StructField("key", StringType(), False),
        StructField("url", StringType(), False),
        StructField("task", StringType(), False),
        StructField("round", IntegerType(), False),
    ]
)


def arrow_table(rows, schema: StructType):
    """Driver-held rows (dicts by field name, or tuples in field order) as a
    ``pyarrow.Table`` typed by the Spark schema.

    pyarrow does not enforce ``nullable=False``, so a missing value in a
    non-nullable field raises here, as ``createDataFrame(rows, schema)``'s
    row verifier does, instead of reaching Spark as a NULL in a NOT NULL
    column."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.fieldNames()
    cols: dict[str, list] = {n: [] for n in names}
    for r in rows:
        vals = (r.get(n) for n in names) if isinstance(r, dict) else r
        for n, v in zip(names, vals):
            cols[n].append(v)
    tbl = pa.Table.from_pydict(cols, schema=to_arrow_schema(schema))
    for f in schema.fields:
        if not f.nullable and tbl.column(f.name).null_count:
            raise ValueError(f"field {f.name!r} is not nullable, got None")
    return tbl


def local_frame(spark, rows, schema: StructType):
    """A DataFrame over driver-held rows that plans as ``LocalTableScan``.

    ``createDataFrame(<list>)`` goes through a pickled RDD: one task and
    one Python worker per partition for every job that reads the frame.
    An Arrow table becomes a local relation instead — no tasks and no
    Python worker."""
    return spark.createDataFrame(arrow_table(rows, schema))

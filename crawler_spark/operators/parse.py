"""Rules-as-data parse stage (the reference's UDTF surface, SURVEY.md §2.8).

One Arrow-batched pandas UDF evaluates each row's rule over the body. The
batch is grouped by (task, rule) — almost always 1-2 groups — and each
group is processed COLUMN-WISE with vectorized pandas string ops:

- links:  ``Series.str.extractall(link_regex)`` (same re.finditer
          non-overlapping left-to-right semantics as the oracle's
          textcore.extract_links), prefix fix-up vectorized, then a
          lists-per-row regroup (list assembly only — no regex per row);
- items:  ``Series.str.extract`` per field regex (first-match group-1 ==
          re.search parity), ``Series.str.contains`` for filter_regex;
- spans:  textcore.extract_spans per valid row — the one genuinely
          position-dependent step (interleaved text/media offsets with
          overlap-skip semantics); kept byte-identical to the oracle
          rather than approximated with a combined-alternation split.
          The per-row cost is C-regex dominated (finditer over the body).

Failed/absent bodies arrive as NULL (the engine masks ``body`` with
``F.when(ok, body)``) and short-circuit to empty outputs, so the UDF can
run over the full fetched frame in ONE pass — no separate ok-only branch,
no second traversal of the fetch join.

Boundary design (the hot path at 100 TB): the UDF returns FLAT PARALLEL
PRIMITIVE ARRAYS (link urls / carries / match indexes, span kinds / texts /
refs / offsets) rather than arrays of structs with nested maps. Arrow
converts plain string/int lists vectorized; nested dict-per-element output
falls back to per-object Python conversion and was measured ~30x slower on
fat waves. The structs the engine needs are reassembled JVM-side:

- spans:  arrays_zip + transform -> array<struct<kind,text,media_ref,offset>>
- links:  explode(arrays_zip) + broadcast rules join -> next_rule/priority,
          tmp carry via map_filter + map_concat (LAST_WIN semantics without
          relying on spark.sql.mapKeyDedupPolicy)
- items:  at most one per page (all reference parsers emit 0..1), a single
          small map column.

Rules are data (task, rule, regexes, carry/next metadata) — they replace
both the Go-native ParseFuncs (parse/doubanbook/book.go,
parse/doubangroup/group.go) and the otto-JS rule scripts
(engine/schedule.go:99-133) without embedding a JS engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..schemas import local_frame
from ..textcore import Rule, extract_spans

PARSED_TYPE = (
    "struct<"
    "l_url:array<string>,l_carry:array<string>,l_idx:array<int>,"
    "item:map<string,string>,"
    "s_kind:array<string>,s_text:array<string>,s_ref:array<string>,s_off:array<int>"
    ">"
)

_EMPTY: list = []  # shared immutable placeholder for no-output rows


def _extract_links_group(r: Rule, bs: pd.Series):
    """Vectorized extract_links over one rule group.

    Returns (urls_by_row, carries_by_row): dicts of local row position ->
    list. Parity target: textcore.extract_links (FindAllSubmatch order,
    group-1 URL, optional group-2 carry, url_prefix for relative links —
    parse/doubanbook/book.go:60-109).
    """
    ex = bs.str.extractall(r.link_regex)
    if ex.empty:
        return {}, {}
    g0 = ex.iloc[:, 0]
    if ex.shape[1] >= 2:
        g1 = ex.iloc[:, 1].fillna("")
    else:
        g1 = pd.Series("", index=ex.index)
    if r.url_prefix:
        rel = ~(g0.str.startswith("http://") | g0.str.startswith("https://"))
        g0 = g0.where(~rel, r.url_prefix + g0)
    urls = g0.groupby(level=0).agg(list)
    carries = g1.groupby(level=0).agg(list)
    return urls.to_dict(), carries.to_dict()


def _extract_items_group(r: Rule, bs: pd.Series, cs: pd.Series, ts: pd.Series, valid: pd.Series):
    """Vectorized extract_items over one rule group.

    Returns dict of local row position -> item dict (absent = no item).
    Parity target: textcore.extract_items (first-submatch projection,
    filter_regex gate, emit_url_as — parse/doubanbook/book.go:111-140,
    parse/doubangroup/group.go:57-71).
    """
    if not (r.item_fields or r.emit_url_as):
        return {}
    keep = valid
    if r.filter_regex is not None:
        keep = keep & bs.str.contains(r.filter_regex, regex=True, na=False)
    keep_pos = np.nonzero(keep.to_numpy())[0]
    if len(keep_pos) == 0:
        return {}
    if r.emit_url_as:
        cvals = cs.to_numpy()
        return {int(i): {r.emit_url_as: cvals[i]} for i in keep_pos}
    cols = {}
    for f in r.item_fields:
        pat = r.item_regexes.get(f)
        if pat:
            ex = bs.str.extract(pat)  # first match, all groups
            cols[f] = ex.iloc[:, 0].fillna("")
        else:
            cols[f] = ts.map(lambda d, f=f: d[f] if d is not None and f in d else "")
    frame = pd.DataFrame(cols)
    recs = frame.to_dict("records")
    return {int(i): recs[i] for i in keep_pos}


def make_parse_udf(rules: list[Rule]):
    rulemap = {(r.task, r.rule): r for r in rules}

    @pandas_udf(PARSED_TYPE)
    def parse_udf(
        task: pd.Series, rule: pd.Series, curl: pd.Series, body: pd.Series, tmp: pd.Series
    ) -> pd.DataFrame:
        n = len(task)
        l_url = np.full(n, None, dtype=object)
        l_carry = np.full(n, None, dtype=object)
        l_idx = np.full(n, None, dtype=object)
        item = np.full(n, None, dtype=object)
        s_kind = np.full(n, None, dtype=object)
        s_text = np.full(n, None, dtype=object)
        s_ref = np.full(n, None, dtype=object)
        s_off = np.full(n, None, dtype=object)
        for arr in (l_url, l_carry, l_idx, s_kind, s_text, s_ref, s_off):
            arr[:] = [_EMPTY] * n

        groups = pd.DataFrame(
            {"task": task.to_numpy(), "rule": rule.to_numpy()}
        ).groupby(["task", "rule"], sort=False)
        for (t, rn), ix in groups.indices.items():
            r = rulemap.get((t, rn))
            if r is None:
                continue
            bs = pd.Series(body.to_numpy()[ix])
            valid = bs.notna()
            if not valid.any():
                continue

            if r.link_regex:
                urls, carries = _extract_links_group(r, bs)
                for li, lst in urls.items():
                    gi = ix[li]
                    l_url[gi] = lst
                    l_carry[gi] = carries[li]
                    l_idx[gi] = list(range(len(lst)))

            items = _extract_items_group(
                r,
                bs,
                pd.Series(curl.to_numpy()[ix]),
                pd.Series(tmp.to_numpy()[ix]),
                valid,
            )
            for li, it in items.items():
                item[ix[li]] = it

            # spans: oracle-parity per-row assembly (position-dependent)
            bvals = bs.to_numpy()
            for li in np.nonzero(valid.to_numpy())[0]:
                spans = extract_spans(bvals[li], r)
                gi = ix[li]
                if spans:
                    s_kind[gi] = [s[0] for s in spans]
                    s_text[gi] = [s[1] for s in spans]
                    s_ref[gi] = [s[2] for s in spans]
                    s_off[gi] = [s[3] for s in spans]

        return pd.DataFrame(
            {
                "l_url": l_url, "l_carry": l_carry, "l_idx": l_idx,
                "item": item,
                "s_kind": s_kind, "s_text": s_text, "s_ref": s_ref, "s_off": s_off,
            }
        )

    return parse_udf


_RULES_DIM = StructType(
    [
        StructField("task", StringType()),
        StructField("rule", StringType()),
        StructField("next_rule", StringType()),
        StructField("next_priority", IntegerType()),
        StructField("carry_field", StringType()),
    ]
)


def _rules_df(spark, rules: list[Rule]) -> DataFrame:
    return F.broadcast(
        local_frame(
            spark,
            [
                (r.task, r.rule, r.next_rule or r.rule, r.next_priority, r.carry_field)
                for r in rules
            ],
            _RULES_DIM,
        )
    )


def spans_col():
    """Interleaved span structs (kind, text, media_ref, offset) from the
    flat ``_p.s_*`` arrays — the documents-view projection. Shared by
    parse_fetched and the store's derived documents read (state.py), so
    the span text is WRITTEN ONCE per round (inside the parsed delta) and
    only ever projected at read time."""
    return F.transform(
        F.arrays_zip("_p.s_kind", "_p.s_text", "_p.s_ref", "_p.s_off"),
        lambda x: F.struct(
            x["s_kind"].alias("kind"),
            x["s_text"].alias("text"),
            x["s_ref"].alias("media_ref"),
            x["s_off"].alias("offset"),
        ),
    )


def parse_fetched(fetched: DataFrame, rules: list[Rule], persist):
    """Returns (parsed, documents, items, raw_links) DataFrames.

    ``fetched`` is the FULL fetch-join output (ok and failed rows). The
    returned ``parsed`` is the round's ONLY cache of fetch output: every
    slim column (frontier metadata, ok/status) plus the parse struct —
    but NOT the body. Failed rows pass through with NULL body (masked
    below) and cost nothing in the UDF; every downstream consumer reads
    this one columnar frame with column pruning, so no body bytes are ever
    cached or rescanned.

    ``persist`` materializes the slim parse output ONCE and returns the
    frame every downstream consumer (links/documents/items/accounting)
    reads. The engine passes its parsed-delta store write + reread (a flat
    columnar scan — prunable AND plan-size O(1); see CrawlEngine._scratch
    for why cache()/localCheckpoint() both lose here).

    The pure-codegen parse path (operators/parse_jvm.py) runs whenever
    every rule is in its domain. It keeps bodies out of Python entirely
    (the Arrow transfer of the wave's bodies was the one stage that
    refused to scale with cores); the pandas UDF remains the fallback and
    the parity oracle (tests/test_parse_jvm.py pins byte-equality).

    raw_links still carry the parent's depth/seq and the un-canonicalized
    URL; canonicalization, robots filtering, and seq assignment happen in
    the engine round (they need frontier-global state).
    """
    from .parse_jvm import rules_jvm_ok, with_jvm_parse

    slim_cols = [c for c in fetched.columns if c != "body"]
    if rules_jvm_ok(rules):
        parsed = with_jvm_parse(
            fetched, rules, b="if(ok, body, cast(null as string))"
        ).select(*slim_cols, "_p")
    else:
        parse_udf = make_parse_udf(rules)
        parsed = fetched.select(
            *slim_cols,
            parse_udf(
                "task", "rule", "curl", F.when(F.col("ok"), F.col("body")), "tmp"
            ).alias("_p"),
        )
    parsed = persist(parsed)
    ok_rows = parsed.filter(F.col("ok"))

    documents = ok_rows.select(
        F.col("curl").alias("doc_id"), spans_col().alias("spans")
    )

    items = ok_rows.filter(F.col("_p.item").isNotNull()).select(
        "task", "rule", F.col("curl").alias("url"), F.col("_p.item").alias("data")
    )

    exploded = ok_rows.select(
        "task",
        "rule",
        "tmp",
        F.col("depth").alias("parent_depth"),
        F.col("seq").alias("parent_seq"),
        F.explode(F.arrays_zip("_p.l_url", "_p.l_carry", "_p.l_idx")).alias("l"),
    )
    rdf = _rules_df(fetched.sparkSession, rules)
    base_tmp = F.coalesce(
        F.col("tmp"), F.create_map().cast("map<string,string>")
    )
    # carry semantics (oracle: set tmp[carry_field] = carry iff both nonempty);
    # map_filter-then-concat gives last-wins without the session dedup policy
    carried = F.when(
        F.col("carry_field").isNotNull() & (F.col("l.l_carry") != ""),
        F.map_concat(
            F.map_filter(base_tmp, lambda k, _: k != F.col("carry_field")),
            F.map_from_arrays(
                F.array(F.col("carry_field")), F.array(F.col("l.l_carry"))
            ),
        ),
    ).otherwise(base_tmp)
    raw_links = (
        exploded.join(rdf, ["task", "rule"])
        .select(
            "task",
            "parent_depth",
            "parent_seq",
            F.col("l.l_url").alias("url"),
            F.col("next_rule").alias("rule"),
            F.col("next_priority").alias("priority"),
            F.col("l.l_idx").alias("match_idx"),
            carried.alias("tmp"),
        )
    )
    return parsed, documents, items, raw_links

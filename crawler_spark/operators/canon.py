"""URL canonicalization + seen-key columns.

Canonicalization (north_rule: lowercase host, strip fragment/default port,
sort query params) is implemented as PURE Spark SQL expressions — string
ops inside whole-stage codegen, no Python boundary — because it sits on
the hottest path (every discovered link, every round). The expressions
reproduce ``textcore.canonicalize`` (the function the oracle calls)
exactly; tests/test_canon.py, the golden E2E suite and the
``crawl_canonical_keys`` DuckDB oracle (messy-spelling inputs) pin the
parity.

The seen key stays JVM-side: ``F.md5(concat(curl, method))`` matches the
reference's md5(URL+Method) (spider/request.go:113-117).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _let(var: str, value: str, body: str) -> str:
    """Bind ``value`` to lambda variable ``var`` exactly once in ``body``.

    ``transform(array(v), x -> body)[1]`` is SQL's let-binding: the HOF
    lambda evaluates ``value`` a single time per row and every reference
    to ``x`` in ``body`` is a variable lookup, not a textual copy. Without
    this, composing the urlsplit intermediates by f-string substitution
    made the expression tree EXPONENTIAL in nesting depth (the curl
    expression alone reached 137 KB of SQL; analysis + codegen on it hung
    the fetch join for minutes to forever). With bindings the whole
    canonicalizer is ~3 KB, still pure whole-stage-codegen JVM work.
    """
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def _split_struct(after: str, default_port: str, tag: str) -> str:
    """struct<nl,p,sq> (netloc, path, sorted-query) over ``after`` =
    post-authority-marker text; default-port strip via ``default_port``
    (an SQL expr, '' to disable).

    urlsplit semantics: netloc runs to the first of '/', '?', '#';
    fragment starts at the first '#'; query between the first '?' and the
    fragment; path defaults to '/'. ``tag`` uniquifies the lambda variable
    names of sibling bindings (parallel CASE branches may nest).
    """
    nf, c, r, nr, qp, dp = (f"_{x}{tag}" for x in ("nf", "c", "r", "nr", "qp", "dp"))
    nofrag = f"if(instr({after}, '#') > 0, left({after}, instr({after}, '#') - 1), {after})"
    cut = (
        f"least(if(instr({nf}, '/') = 0, length({nf}) + 1, instr({nf}, '/')),"
        f" if(instr({nf}, '?') = 0, length({nf}) + 1, instr({nf}, '?')))"
    )
    netloc = (
        f"if({dp} <> '' AND endswith({nr}, {dp}),"
        f" left({nr}, length({nr}) - length({dp})), {nr})"
    )
    path = f"if({qp} > 0, left({r}, {qp} - 1), {r})"
    path = f"if({path} = '', '/', {path})"
    query = f"if({qp} > 0, substring({r}, {qp} + 1), '')"
    sorted_q = f"array_join(array_sort(filter(split({query}, '&'), x -> x <> '')), '&')"
    body = f"named_struct('nl', {netloc}, 'p', {path}, 'sq', {sorted_q})"
    return _let(
        nf, nofrag,
        _let(c, cut,
             _let(r, f"substring({nf}, {c})",
                  _let(nr, f"lower(left({nf}, {c} - 1))",
                       _let(qp, f"instr({r}, '?')",
                            _let(dp, default_port, body))))),
    )


def _canon_struct_expr(url: str = "url") -> str:
    """One struct<curl,host> expression mirroring textcore.canonicalize /
    host_of exactly on the URL shapes a crawl frontier carries:

    1. absolute  ``scheme://netloc/path?q#f``
    2. scheme-relative  ``//netloc/path`` (urlsplit: netloc, empty scheme —
       no default-port strip because _DEFAULT_PORTS keys on http/https)
    3. relative / path-only  ``path?q#f`` (urlsplit: everything is path;
       fragment still stripped, query still sorted, '' -> '/')

    The whitespace trim is ``\\s``-regex both ends (Python ``str.strip()``
    strips tab/newline too; SQL ``trim`` only strips spaces). Parity is
    not claimed outside this domain (mailto:, data:, malformed-IPv6
    ValueError edges); tests/test_canon.py pins the SQL/Python parity
    corpus.
    """
    # case 1: scheme://... — bind scheme, then the urlsplit struct
    dp1 = "if(_sch = 'http', ':80', if(_sch = 'https', ':443', ''))"
    case1 = _let(
        "_sch", "lower(left(_u, instr(_u, '://') - 1))",
        _let(
            "_s1", _split_struct("substring(_u, instr(_u, '://') + 3)", dp1, "1"),
            "named_struct("
            "'curl', concat(_sch, '://', _s1.nl, _s1.p,"
            " if(_s1.sq = '', '', concat('?', _s1.sq))),"
            "'host', _s1.nl)",
        ),
    )

    # case 2: //netloc/... (empty scheme; urlunsplit re-emits the '//').
    # urlsplit path is '' when nothing follows the netloc; canonicalize's
    # `path or '/'` then yields '/', same as case 1 — _split_struct did it.
    # urlunsplit re-emits '//' ONLY when netloc is nonempty: with an empty
    # netloc the path is emitted verbatim ('///x' -> '/x', '////x' -> '//x').
    # host parity target is host_of(curl) — the oracle re-parses the
    # CANONICAL url (oracle.py:247): with an empty netloc the canonical
    # form is the bare path; when that path itself starts with '//'
    # (e.g. '////x' -> '//x'), re-parsing finds a netloc in it.
    host2b = (
        "lower(left(_sub2,"
        " if(instr(_sub2, '/') = 0, length(_sub2) + 1, instr(_sub2, '/')) - 1))"
    )
    case2 = _let(
        "_s2", _split_struct("substring(_u, 3)", "''", "2"),
        _let(
            "_sub2", "substring(_s2.p, 3)",
            "named_struct("
            "'curl', if(_s2.nl = '',"
            " concat(_s2.p, if(_s2.sq = '', '', concat('?', _s2.sq))),"
            " concat('//', _s2.nl, _s2.p,"
            " if(_s2.sq = '', '', concat('?', _s2.sq)))),"
            "'host', if(_s2.nl <> '', _s2.nl,"
            f" if(startswith(_s2.p, '//'), {host2b}, '')))",
        ),
    )

    # case 3: pure path (no netloc): strip fragment, sort query, '' -> '/'
    path3 = "if(_qp3 > 0, left(_nf3, _qp3 - 1), _nf3)"
    path3 = f"if({path3} = '', '/', {path3})"
    query3 = "if(_qp3 > 0, substring(_nf3, _qp3 + 1), '')"
    q3 = f"array_join(array_sort(filter(split({query3}, '&'), x -> x <> '')), '&')"
    case3 = _let(
        "_nf3", "if(instr(_u, '#') > 0, left(_u, instr(_u, '#') - 1), _u)",
        _let(
            "_qp3", "instr(_nf3, '?')",
            _let(
                "_q3", q3,
                f"named_struct("
                f"'curl', concat({path3}, if(_q3 = '', '', concat('?', _q3))),"
                f"'host', '')",
            ),
        ),
    )

    return _let(
        "_u", f"regexp_replace({url}, '^\\\\s+|\\\\s+$', '')",
        f"CASE WHEN instr(_u, '://') > 0 THEN {case1} "
        f"WHEN startswith(_u, '//') THEN {case2} "
        f"ELSE {case3} END",
    )


def _canon_exprs(url: str = "url") -> dict[str, str]:
    s = _canon_struct_expr(url)
    return {"curl": f"({s}).curl", "host": f"({s}).host", "struct": s}


def canonical_col(url_col: str = "url") -> Column:
    return F.expr(_canon_exprs(url_col)["curl"])


def host_col(url_col: str = "url") -> Column:
    return F.expr(_canon_exprs(url_col)["host"])


def seen_key_col(curl: Column, method: Column) -> Column:
    return F.md5(F.concat(curl, method))


def with_canonical(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add curl/host/key columns to a frame of raw URLs (all JVM-side).

    The struct is computed into one temp column so curl and host share a
    single evaluation (field extraction from a struct column is free)."""
    return (
        df.withColumn("_cs", F.expr(_canon_struct_expr(url_col)))
        .withColumn("curl", F.col("_cs.curl"))
        .withColumn("host", F.col("_cs.host").cast("string"))
        .withColumn("key", seen_key_col(F.col("curl"), F.col("method")))
        .drop("_cs")
    )

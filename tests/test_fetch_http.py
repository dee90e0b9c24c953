"""HttpFetcher request assembly + decode, via an injected mock transport.

Reference parity targets:
- Cookie header per task: collect/collect.go:65-67, spider/task.go Cookie
- UA rotation: collect/collect.go:70 (extensions/randomua.go) — here
  deterministic by seq (documented deviation)
- Proxy rotation: proxy/proxy.go:17-27 round-robin
- Charset detect + UTF-8 transcode: collect/collect.go:85-97
- Transport error -> fetch failure (-> engine retry-once):
  collect/collect.go:71-75

The mock transport runs inside Spark's Python workers (separate
processes), so it reports what it observed by ECHOING the assembled
request into the response body; assertions read the fetched rows.
"""

from __future__ import annotations

import pytest

from crawler_spark.operators.decode import decode_body, sniff_charset
from crawler_spark.operators.fetch import HttpFetcher
from crawler_spark.textcore import MIN_BODY_LEN

PAD = "x" * MIN_BODY_LEN
GOOD = PAD.encode()


def make_echo_transport():
    """Build the mock as a closure: cloudpickle then serializes it by VALUE
    (a module-level function in tests/ is pickled by reference and the
    Python workers cannot import the test module)."""

    min_len = MIN_BODY_LEN
    pad = PAD

    def echo_transport(url, headers, proxy, timeout_s):
        if url.endswith("/timeout"):
            return 0, b"", None, 10_000  # transport-level failure
        if url.endswith("/gone"):
            return 404, b"not here", None, 3
        if url.endswith("/gbk"):
            body = ('<meta charset="gbk">' + "汉" * min_len).encode("gbk")
            return 200, body, None, 5
        echo = (
            f"ua=[{headers.get('User-Agent', '')}];"
            f"proxy=[{proxy or ''}];"
            f"cookie=[{headers.get('Cookie', '')}];"
            f"timeout=[{timeout_s}];" + pad
        )
        return 200, echo.encode(), "utf-8", 5

    return echo_transport


def _wave(spark, rows):
    return spark.createDataFrame(
        rows, "url string, seq long, task string, curl string"
    )


def test_http_fetcher_headers_proxy_and_errors(spark):
    f = HttpFetcher(
        timeout_s=7.5,
        user_agents=("UA-a", "UA-b", "UA-c"),
        proxies=("http://p0:1", "http://p1:1"),
        cookies={"douban": "sid=abc"},
        transport=make_echo_transport(),
    )
    wave = _wave(
        spark,
        [
            ("http://h/0", 0, "douban", "http://h/0"),
            ("http://h/1", 1, "other", "http://h/1"),
            ("http://h/timeout", 2, "douban", "http://h/timeout"),
            ("http://h/gone", 3, "douban", "http://h/gone"),
            ("http://h/gbk", 4, "douban", "http://h/gbk"),
        ],
    )
    rows = {r["url"]: r for r in f.fetch(wave).collect()}

    # UA rotation: seq % 3; proxy rotation: seq % 2; cookie only for the
    # configured task; timeout_s propagates to the transport
    b0, b1 = rows["http://h/0"]["body"], rows["http://h/1"]["body"]
    assert "ua=[UA-a];" in b0 and "proxy=[http://p0:1];" in b0
    assert "cookie=[sid=abc];" in b0 and "timeout=[7.5];" in b0
    assert "ua=[UA-b];" in b1 and "proxy=[http://p1:1];" in b1
    assert "cookie=[];" in b1  # task 'other' has no cookie configured

    assert rows["http://h/0"]["ok"] and rows["http://h/0"]["status"] == 200
    # transport error: status 0, not ok -> engine routes to retry-once
    assert rows["http://h/timeout"]["status"] == 0
    assert not rows["http://h/timeout"]["ok"]
    # HTTP error status: body kept, not ok
    assert rows["http://h/gone"]["status"] == 404
    assert not rows["http://h/gone"]["ok"]
    # GBK page: sniffed via <meta charset> and transcoded to UTF-8
    assert rows["http://h/gbk"]["ok"]
    assert "汉" * 10 in rows["http://h/gbk"]["body"]


@pytest.fixture(scope="module")
def http_server():
    """Tiny threaded asyncio HTTP server on 127.0.0.1: content-length,
    chunked, charset'd and erroring endpoints for the real urllib
    transport (no external network)."""
    import asyncio
    import threading

    ready = threading.Event()
    state: dict = {}

    async def handle(reader, writer):
        req = await reader.readline()
        path = req.split()[1].decode()
        while (await reader.readline()).rstrip(b"\r\n"):
            pass  # drain request headers
        if path.endswith("/clen"):
            body = b"hello-clen"
            head = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8"
                b"\r\nContent-Length: %d\r\n\r\n" % len(body)
            )
            writer.write(head + body)
        elif path.endswith("/chunked"):
            writer.write(
                b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                b"4\r\nchun\r\n3\r\nked\r\n0\r\n\r\n"
            )
        elif path.endswith("/gbk"):
            body = "汉字".encode("gbk")
            writer.write(
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=gbk"
                b"\r\nContent-Length: %d\r\n\r\n" % len(body) + body
            )
        elif path.endswith("/redir"):
            writer.write(
                b"HTTP/1.1 302 Found\r\nLocation: /clen\r\n"
                b"Content-Length: 0\r\n\r\n"
            )
        elif path.endswith("/redirloop"):
            writer.write(
                b"HTTP/1.1 301 Moved\r\nLocation: /redirloop\r\n"
                b"Content-Length: 0\r\n\r\n"
            )
        else:
            writer.write(
                b"HTTP/1.1 404 Not Found\r\nContent-Length: 4\r\n\r\ngone"
            )
        await writer.drain()
        writer.close()

    def run():
        async def main():
            server = await asyncio.start_server(handle, "127.0.0.1", 0)
            state["port"] = server.sockets[0].getsockname()[1]
            ready.set()
            async with server:
                await server.serve_forever()

        try:
            asyncio.run(main())
        except RuntimeError:
            pass

    t = threading.Thread(target=run, daemon=True)
    t.start()
    ready.wait(10)
    yield f"http://127.0.0.1:{state['port']}"


def test_urllib_transport_real_http(http_server):
    """The default urllib transport against a real local HTTP server:
    status/header parse, content-length and chunked bodies, charset hint,
    404 pass-through, connect-failure -> status 0."""
    from crawler_spark.operators.fetch import urllib_transport

    def go(url):
        return urllib_transport(url, {"X-T": "1"}, None, 5.0)

    st, raw, cs, ms = go(f"{http_server}/clen")
    assert (st, raw, cs) == (200, b"hello-clen", "utf-8") and ms >= 0
    st, raw, cs, _ = go(f"{http_server}/chunked")
    assert (st, raw) == (200, b"chunked")
    st, raw, cs, _ = go(f"{http_server}/gbk")
    assert st == 200 and raw == "汉字".encode("gbk") and cs == "gbk"
    st, raw, _, _ = go(f"{http_server}/missing")
    assert (st, raw) == (404, b"gone")
    # nothing listens on port 1: transport-level failure contract
    st, raw, _, _ = go("http://127.0.0.1:1/x")
    assert (st, raw) == (0, b"")


def test_http_fetcher_no_rotation_config(spark):
    f = HttpFetcher(transport=make_echo_transport())  # no UA/proxy/cookie config
    wave = _wave(spark, [("http://h/a", 7, "t", "http://h/a")])
    out = f.fetch(wave).collect()
    assert out[0]["ok"]
    assert "ua=[];" in out[0]["body"] and "proxy=[];" in out[0]["body"]
    assert "cookie=[];" in out[0]["body"]


@pytest.mark.parametrize(
    "data,expect",
    [
        (b"", "utf-8"),
        ("plain ascii".encode(), "utf-8"),
        ("héllo".encode("utf-8"), "utf-8"),
        (b"\xef\xbb\xbfbom utf8", "utf-8-sig"),
        ("中文内容".encode("utf-16-le"), "utf-16-le"),  # no BOM -> probe fails over
        (b'<html><meta charset="GBK"><body>', "gb18030"),
        (b'<meta http-equiv="Content-Type" content="text/html; charset=gb2312">', "gb18030"),
        ("纯中文无标签头".encode("gbk") * 10, "gb18030"),
        (b"\xff\xfe" + "utf16le".encode("utf-16-le"), "utf-16-le"),
    ],
)
def test_sniff_charset(data, expect):
    got = sniff_charset(data)
    if data == "中文内容".encode("utf-16-le"):
        # BOM-less UTF-16 is genuinely ambiguous; just require no crash and
        # a lossless-or-replaced decode
        assert decode_body(data, None) is not None
    else:
        assert got == expect


def test_decode_body_hint_precedence():
    # Content-Type charset wins over the meta tag (Go DetermineEncoding
    # contentType argument precedence)
    data = '<meta charset="gbk">abc'.encode("utf-8")
    assert decode_body(data, "utf-8") == '<meta charset="gbk">abc'
    # undecodable bytes replaced, never raising
    assert "�" in decode_body(b"\xff\xff\xfe\xfa abc", "utf-8")


def test_urllib_transport_redirects(http_server):
    """Redirects are followed by urllib's HTTPRedirectHandler (relative
    Location resolved against the current URL). urllib reports a redirect
    loop as the loop's 3xx status with an empty body; the fetch validity
    check (status 200 and a long body) makes that a failure either way."""
    from crawler_spark.operators.fetch import urllib_transport

    def go(url):
        return urllib_transport(url, {}, None, 5.0)

    st, raw, cs, _ = go(f"{http_server}/redir")
    assert (st, raw, cs) == (200, b"hello-clen", "utf-8")
    st, raw, _, _ = go(f"{http_server}/redirloop")
    assert st != 200 and raw == b""


def test_urllib_transport_connect_refused_by_proxy(http_server):
    """An https URL through a proxy negotiates a CONNECT tunnel; a proxy
    that refuses the tunnel (our plain server answers CONNECT with 404)
    maps to transport failure, never a silent direct connection."""
    from crawler_spark.operators.fetch import urllib_transport

    st, raw, _, _ = urllib_transport(
        "https://site.invalid/x", {}, http_server.split("//")[1], 5.0
    )
    assert (st, raw) == (0, b"")

"""terahttp-analog proxy: the reference's JSON-over-HTTP contract
(src/proto/http.proto, doc/en/sdk_guide_http.md) served by stdlib
http.server over the Spark-backed Client. Requests below replay the
documented curl sample and http_sample.py's miss shapes byte-for-byte
field-wise."""

from __future__ import annotations

import base64
import http.client
import json
import shutil
import tempfile

import pytest

from tera_spark.client import Client
from tera_spark.sources.http_proxy import GET_PATH, PUT_PATH, HttpProxy


@pytest.fixture()
def proxy(spark):
    d = tempfile.mkdtemp(prefix="tera_http_")
    client = Client(spark, d)
    client.create_table("oops {cf0, cnt}")
    p = HttpProxy(client).start()
    yield p
    p.stop()
    shutil.rmtree(d, ignore_errors=True)


def _post(proxy: HttpProxy, path: str, body: dict) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", proxy.port, timeout=30)
    try:
        conn.request("POST", path, json.dumps(body), {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return json.loads(resp.read())
    finally:
        conn.close()


def test_put_get_roundtrip_sample_shape(proxy):
    # the sdk_guide_http.md curl sample: batch of two rows, two columns each
    put = _post(proxy, PUT_PATH, {
        "tablename": "oops",
        "mutation_list": [
            {"rowkey": "row35", "type": "put", "columns": [
                {"columnfamily": "cf0", "qualifier": "qu0", "value": "value35"},
                {"columnfamily": "cf0", "qualifier": "qu1", "value": "value35.2"},
            ]},
            {"rowkey": "row36", "type": "put", "columns": [
                {"columnfamily": "cf0", "qualifier": "qu0", "value": "value36"},
            ]},
        ],
    })
    assert put["status"] is True
    assert [r["status"] for r in put["results"]] == [True, True]
    assert [r["rowkey"] for r in put["results"]] == ["row35", "row36"]

    # http_sample.py's read: one hit among misses on row/cf/qualifier
    got = _post(proxy, GET_PATH, {
        "tablename": "oops",
        "reader_list": [
            {"rowkey": "row404", "columnfamily": "cf0", "qualifier": "qu0"},
            {"rowkey": "row35", "columnfamily": "cf404", "qualifier": "qu0"},
            {"rowkey": "row35", "columnfamily": "cf0", "qualifier": "qu404"},
            {"rowkey": "row35", "columnfamily": "cf0", "qualifier": "qu0"},
        ],
    })
    assert got["status"] is False  # some readers missed
    r404, rcf, rqu, hit = got["results"]
    for miss in (r404, rcf, rqu):
        assert miss["status"] is False and miss["reason"] == "not found"
    assert hit["status"] is True and hit["value"] == "value35"


def test_put_newest_version_wins_and_del_row(proxy):
    for v in ("old", "new"):
        _post(proxy, PUT_PATH, {"tablename": "oops", "mutation_list": [
            {"rowkey": "r1", "type": "put", "columns": [
                {"columnfamily": "cf0", "qualifier": "q", "value": v}]}]})
    got = _post(proxy, GET_PATH, {"tablename": "oops", "reader_list": [
        {"rowkey": "r1", "columnfamily": "cf0", "qualifier": "q"}]})
    assert got["results"][0]["value"] == "new"

    _post(proxy, PUT_PATH, {"tablename": "oops", "mutation_list": [
        {"rowkey": "r1", "type": "del-row"}]})
    got = _post(proxy, GET_PATH, {"tablename": "oops", "reader_list": [
        {"rowkey": "r1", "columnfamily": "cf0", "qualifier": "q"}]})
    assert got["results"][0]["reason"] == "not found"


def test_del_col_and_extended_verbs(proxy):
    _post(proxy, PUT_PATH, {"tablename": "oops", "mutation_list": [
        {"rowkey": "r2", "type": "put", "columns": [
            {"columnfamily": "cf0", "qualifier": "a", "value": "keep"},
            {"columnfamily": "cf0", "qualifier": "b", "value": "drop"}]}]})
    _post(proxy, PUT_PATH, {"tablename": "oops", "mutation_list": [
        {"rowkey": "r2", "type": "del-col", "columns": [
            {"columnfamily": "cf0", "qualifier": "b"}]}]})
    got = _post(proxy, GET_PATH, {"tablename": "oops", "reader_list": [
        {"rowkey": "r2", "columnfamily": "cf0", "qualifier": "a"},
        {"rowkey": "r2", "columnfamily": "cf0", "qualifier": "b"}]})
    assert got["results"][0]["value"] == "keep"
    assert got["results"][1]["reason"] == "not found"

    # counter add (proto enum kAdd): BE-encoded merge, returned base64
    for delta in ("5", "2"):
        r = _post(proxy, PUT_PATH, {"tablename": "oops", "mutation_list": [
            {"rowkey": "r3", "type": "add", "columns": [
                {"columnfamily": "cnt", "qualifier": "n", "value": delta}]}]})
        assert r["status"] is True
    got = _post(proxy, GET_PATH, {"tablename": "oops", "reader_list": [
        {"rowkey": "r3", "columnfamily": "cnt", "qualifier": "n"}]})
    res = got["results"][0]
    assert res["status"] is True
    raw = (
        base64.b64decode(res["value"])
        if res.get("encoding") == "base64"
        else res["value"].encode("utf-8")
    )
    assert int.from_bytes(raw, "big", signed=True) == 7

    # put-if-absent: oldest wins
    for v in ("first", "second"):
        _post(proxy, PUT_PATH, {"tablename": "oops", "mutation_list": [
            {"rowkey": "r4", "type": "put-if-absent", "columns": [
                {"columnfamily": "cf0", "qualifier": "q", "value": v}]}]})
    got = _post(proxy, GET_PATH, {"tablename": "oops", "reader_list": [
        {"rowkey": "r4", "columnfamily": "cf0", "qualifier": "q"}]})
    assert got["results"][0]["value"] == "first"


def test_per_row_status_isolates_bad_rows(proxy):
    r = _post(proxy, PUT_PATH, {"tablename": "oops", "mutation_list": [
        {"rowkey": "ok", "type": "put", "columns": [
            {"columnfamily": "cf0", "qualifier": "q", "value": "v"}]},
        {"rowkey": "bad", "type": "no-such-verb", "columns": []},
    ]})
    assert r["status"] is False
    ok, bad = r["results"]
    assert ok["status"] is True
    assert bad["status"] is False and "no-such-verb" in bad["reason"]
    # the good row landed despite the bad sibling
    got = _post(proxy, GET_PATH, {"tablename": "oops", "reader_list": [
        {"rowkey": "ok", "columnfamily": "cf0", "qualifier": "q"}]})
    assert got["results"][0]["value"] == "v"


def test_metrics_endpoint_prometheus_text(proxy):
    """GET /metrics serves the reference metric server's Prometheus
    text shape (metric_http_server.cc: # HELP / # TYPE gauge /
    name{labels,value_type="Gauge"} value ts) with per-table gauges
    from table_stats and proxy request counters."""
    _post(proxy, PUT_PATH, {"tablename": "oops", "mutation_list": [
        {"rowkey": "m1", "type": "put", "columns": [
            {"columnfamily": "cf0", "qualifier": "q", "value": "v"}]}]})
    conn = http.client.HTTPConnection("127.0.0.1", proxy.port, timeout=30)
    try:
        conn.request("GET", "/metrics")
        resp = conn.getresponse()
        assert resp.status == 200
        assert resp.getheader("Content-Type", "").startswith("text/plain")
        body = resp.read().decode("utf-8")
    finally:
        conn.close()
    assert "# TYPE tera_table_rows gauge\n" in body
    assert "# HELP tera_http_put_requests tera_http_put_requests\n" in body
    import re

    m = re.search(r'tera_table_rows\{table="oops",value_type="Gauge"\} (\d+) \d+', body)
    assert m and int(m.group(1)) >= 1, body
    m = re.search(r'tera_http_put_requests\{value_type="Gauge"\} (\d+) \d+', body)
    assert m and int(m.group(1)) >= 1

    # unknown GET path -> 404 (only /metrics is a GET verb)
    conn = http.client.HTTPConnection("127.0.0.1", proxy.port, timeout=30)
    try:
        conn.request("GET", "/nope")
        assert conn.getresponse().status == 404
    finally:
        conn.close()


def test_metrics_export_the_block_cache(proxy, monkeypatch):
    """/metrics carries the catalog's block cache counters: a first Get
    of a row misses and caches its row group, a second one hits. Beside
    them, the catalog's scan_df calls per route: one local, one Spark."""
    import re

    from tera_spark import client as client_mod

    def scrape(prefix: str = "tera_block_cache_") -> dict[str, int]:
        conn = http.client.HTTPConnection("127.0.0.1", proxy.port, timeout=30)
        try:
            conn.request("GET", "/metrics")
            body = conn.getresponse().read().decode("utf-8")
        finally:
            conn.close()
        return {m[0]: int(m[1]) for m in re.findall(
            rf'^{prefix}(\w+)\{{value_type="Gauge"\}} (\d+) \d+$', body, re.M)}

    _post(proxy, PUT_PATH, {"tablename": "oops", "mutation_list": [
        {"rowkey": "bc", "type": "put", "columns": [
            {"columnfamily": "cf0", "qualifier": "q", "value": "v"}]}]})
    get = {"tablename": "oops", "reader_list": [
        {"rowkey": "bc", "columnfamily": "cf0", "qualifier": "q"}]}
    before = scrape()
    assert set(before) == {"hits", "misses", "evictions", "bytes", "groups"}
    assert _post(proxy, GET_PATH, get)["results"][0]["value"] == "v"
    missed = scrape()
    assert missed["misses"] == before["misses"] + 1 and missed["hits"] == before["hits"]
    assert missed["groups"] == before["groups"] + 1 and missed["bytes"] > before["bytes"]
    assert _post(proxy, GET_PATH, get)["results"][0]["value"] == "v"
    hit = scrape()
    assert hit["hits"] == missed["hits"] + 1 and hit["misses"] == missed["misses"]
    assert (hit["bytes"], hit["groups"], hit["evictions"]) == (
        missed["bytes"], missed["groups"], missed["evictions"]
    )

    assert scrape("tera_scan_df_") == {"local": 0, "spark": 0}
    table = proxy._client.open_table("oops")
    assert table.scan_df().count() == 1
    monkeypatch.setattr(client_mod, "_LOCAL_SCAN_ROWS", -1)
    assert table.scan_df().count() == 1
    assert scrape("tera_scan_df_") == {"local": 1, "spark": 1}


def test_errors_bad_json_unknown_path_unknown_table(proxy):
    conn = http.client.HTTPConnection("127.0.0.1", proxy.port, timeout=30)
    try:
        conn.request("POST", PUT_PATH, "{nope", {"Content-Type": "application/json"})
        resp = conn.getresponse()
        assert resp.status == 400
        assert json.loads(resp.read())["reason"] == "bad json"
    finally:
        conn.close()

    conn = http.client.HTTPConnection("127.0.0.1", proxy.port, timeout=30)
    try:
        conn.request("POST", "/tera.http.HttpProxy.Nope", "{}")
        assert conn.getresponse().status == 404
    finally:
        conn.close()

    r = _post(proxy, GET_PATH, {"tablename": "ghost", "reader_list": []})
    assert r["status"] is False and r["reason"]

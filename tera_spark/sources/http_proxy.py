"""HTTP proxy for the SDK — the terahttp analog.

Reference behavior: src/sdk/http/http.cc (a JSON-over-HTTP proxy
process exposing ``tera.http.HttpProxy.Get`` / ``.Put``), request and
response contract src/proto/http.proto:19-71, usage
doc/en/sdk_guide_http.md and sample src/sdk/http/http_sample.py. The
reference bridges JSON to protobuf via sofa-pbrpc; here the same JSON
contract rides the stdlib ``http.server`` over the Spark-backed
``Client`` — no extra dependencies, same endpoints, same field names,
same per-row status/reason shape.

Semantics mirrored:

* ``Put`` applies each ``mutation_list`` entry as ONE row mutation
  (per-row atomicity, the reference's RowMutation unit) and reports a
  per-row ``{rowkey, status, reason}`` — one bad row does not fail the
  batch (PutResponse.results, http.proto:36-46).
* Documented mutation types ``put`` / ``del-col`` / ``del-row``
  (sdk_guide_http.md), plus the proto's commented-out enum rounded out
  against the cell model's merge operators: ``del-family``, ``add``,
  ``add-int64``, ``put-if-absent``, ``append`` (http.proto:7-17).
* ``Get`` resolves each ``reader_list`` entry to the NEWEST version of
  (rowkey, columnfamily, qualifier) via the seek path (no Spark job —
  the proxy answers point reads at client-side latency, matching the
  reference proxy which never scans); a miss is a per-reader
  ``status=false, reason="not found"`` (http_sample.py exercises
  exactly this row404/cf404/qu404 shape).

Extension beyond the reference (documented, not silently deviant):
proto values are ``string``, so binary cell values (e.g. counter
encodings) that are not valid UTF-8 are returned base64-encoded with
``"encoding": "base64"`` on the reader — the reference would emit
broken JSON for those.
"""

from __future__ import annotations

import base64
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from tera_spark.operators.mutation import MutationBatch

PUT_PATH = "/tera.http.HttpProxy.Put"
GET_PATH = "/tera.http.HttpProxy.Get"
METRICS_PATH = "/metrics"

# table_stats fields exported as per-table gauges (metadata-only)
_TABLE_GAUGES = (
    "files",
    "rows",
    "bytes",
    "commit_watermark",
    "snapshots",
    "pending_rollback_windows",
    "delimiters",
)

# mutation_list[].type -> MutationBatch verb (http.proto:7-17; the
# documented subset is put/del-col/del-row, the rest complete the enum)
_NEEDS_COLUMNS = {"put", "del-col", "add", "add-int64", "put-if-absent", "append"}


def _apply_columns(batch: MutationBatch, mtype: str, rowkey: str, cols: list[dict]) -> None:
    for c in cols:
        cf = c.get("columnfamily", "")
        qu = c.get("qualifier", "")
        value = c.get("value", "")
        if mtype == "put":
            batch.put(rowkey, cf, qu, value)
        elif mtype == "del-col":
            batch.delete_column(rowkey, cf, qu)
        elif mtype == "add":
            batch.add(rowkey, cf, qu, int(value))
        elif mtype == "add-int64":
            batch.add_int64(rowkey, cf, qu, int(value))
        elif mtype == "put-if-absent":
            batch.put_if_absent(rowkey, cf, qu, value)
        elif mtype == "append":
            batch.append(rowkey, cf, qu, value)


def _reader_result(table, reader: dict) -> dict:
    rowkey = reader.get("rowkey", "")
    cf = reader.get("columnfamily", "")
    qu = reader.get("qualifier", "")
    out = {"rowkey": rowkey, "columnfamily": cf, "qualifier": qu}
    cells = table.get(rowkey, columns={cf: [qu]}, max_versions=1)
    versions = cells.get(cf, {}).get(qu, [])
    if not versions:
        out.update(status=False, reason="not found")
        return out
    raw = versions[0][1]
    try:
        out.update(status=True, value=raw.decode("utf-8"))
    except UnicodeDecodeError:
        out.update(
            status=True,
            value=base64.b64encode(raw).decode("ascii"),
            encoding="base64",
        )
    return out


class HttpProxy:
    """The proxy process analog: owns a Client, serves the two verbs.

    ``start()`` binds (port=0 picks a free port) and serves on a
    daemon thread; ``stop()`` shuts down. Tables are opened once and
    cached. Writes serialize on a lock — the proxy is ONE writer
    process, exactly like a terahttp instance in front of the SDK;
    multi-process write coordination stays with the commit CAS
    (catalog.py) underneath.
    """

    def __init__(self, client, host: str = "127.0.0.1", port: int = 0):
        self._client = client
        self._tables: dict[str, object] = {}
        self._wlock = threading.Lock()
        # _mlock guards the shared mutable proxy state (_counters,
        # _tables) across ThreadingHTTPServer handler threads: unlocked
        # `+= 1` lost increments under concurrency, and racing table
        # opens did duplicate work. Point READS of table data stay
        # outside _wlock by design: a get is snapshot-consistent with
        # respect to concurrent proxy writes (it sees the commit
        # watermark as of its own scan, never a torn batch).
        self._mlock = threading.Lock()
        self._counters = {"put_requests": 0, "get_requests": 0}
        proxy = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # tests stay quiet
                pass

            def do_GET(self):
                # the metric server analog (common/metric/
                # metric_http_server.cc:162: GET /metrics, Prometheus
                # text exposition — # HELP / # TYPE gauge / item lines)
                if self.path != METRICS_PATH:
                    self._reply(404, {"status": False, "reason": "unknown method"})
                    return
                body = proxy._metrics().encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "text/plain; version=0.0.4")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    req = json.loads(self.rfile.read(n) or b"{}")
                except (ValueError, json.JSONDecodeError):
                    self._reply(400, {"status": False, "reason": "bad json"})
                    return
                if self.path == PUT_PATH:
                    self._reply(200, proxy._put(req))
                elif self.path == GET_PATH:
                    self._reply(200, proxy._get(req))
                else:
                    self._reply(404, {"status": False, "reason": "unknown method"})

            def _reply(self, code: int, body: dict):
                data = json.dumps(body).encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    # --- verbs ---------------------------------------------------------

    def _table(self, name: str):
        with self._mlock:
            t = self._tables.get(name)
        if t is not None:
            return t
        t = self._client.open_table(name)  # open outside the lock: slow
        with self._mlock:
            return self._tables.setdefault(name, t)

    def _count(self, counter: str) -> None:
        with self._mlock:
            self._counters[counter] += 1

    def _metrics(self) -> str:
        """Prometheus text body, the ResponseBodyBuilder shape
        (metric_http_server.cc:20-62): ``# HELP`` / ``# TYPE <name>
        gauge`` headers, then ``name{labels,value_type="Gauge"} value
        timestamp_ms`` items. Per-table gauges come from the
        metadata-only ``catalog.table_stats``; proxy request counters,
        the catalog's block cache (hits, misses, evictions, bytes,
        groups) and its ``scan_df`` calls per route (local, spark) ride
        along with no table label."""
        ts = int(time.time() * 1000)
        out: list[str] = []

        def item(name: str, labels: str, value) -> None:
            out.append(f"# HELP {name} {name}\n# TYPE {name} gauge\n")
            sep = "," if labels else ""
            out.append(f'{name}{{{labels}{sep}value_type="Gauge"}} {value} {ts}\n')

        with self._mlock:
            counters = dict(self._counters)
        for cname, cval in sorted(counters.items()):
            item(f"tera_http_{cname}", "", cval)
        cat = self._client.catalog
        for cname, cval in cat.block_cache.stats().items():
            item(f"tera_block_cache_{cname}", "", cval)
        for route, n in cat.scan_df_routes.items():
            item(f"tera_scan_df_{route}", "", n)
        for tname in cat.list_tables():
            try:
                stats = cat.table_stats(tname)
            except Exception:  # noqa: BLE001 — a broken table must not kill /metrics
                continue
            for field in _TABLE_GAUGES:
                item(f"tera_table_{field}", f'table="{tname}"', stats[field])
        return "".join(out)

    def _put(self, req: dict) -> dict:
        self._count("put_requests")
        try:
            table = self._table(req.get("tablename", ""))
        except Exception as exc:  # noqa: BLE001 — proxy reports, never dies
            return {"status": False, "reason": str(exc), "results": []}
        results = []
        ok_all = True
        for m in req.get("mutation_list", []):
            rowkey = m.get("rowkey", "")
            mtype = m.get("type", "put")
            batch = MutationBatch()
            try:
                if mtype == "del-row":
                    batch.delete_row(rowkey)
                elif mtype == "del-family":
                    for c in m.get("columns", []):
                        batch.delete_family(rowkey, c.get("columnfamily", ""))
                elif mtype in _NEEDS_COLUMNS:
                    _apply_columns(batch, mtype, rowkey, m.get("columns", []))
                else:
                    raise ValueError(f"unknown mutation type {mtype!r}")
                if not len(batch):
                    raise ValueError("empty mutation")
                with self._wlock:
                    table.apply_mutation(batch)
                results.append({"rowkey": rowkey, "status": True, "reason": ""})
            except Exception as exc:  # noqa: BLE001 — per-row status
                ok_all = False
                results.append({"rowkey": rowkey, "status": False, "reason": str(exc)})
        return {"status": ok_all, "reason": "", "results": results}

    def _get(self, req: dict) -> dict:
        self._count("get_requests")
        try:
            table = self._table(req.get("tablename", ""))
        except Exception as exc:  # noqa: BLE001
            return {"status": False, "reason": str(exc), "results": []}
        results = []
        ok_all = True
        for reader in req.get("reader_list", []):
            try:
                res = _reader_result(table, reader)
            except Exception as exc:  # noqa: BLE001
                res = dict(reader, status=False, reason=str(exc))
            ok_all = ok_all and bool(res.get("status"))
            results.append(res)
        return {"status": ok_all, "reason": "", "results": results}

    # --- lifecycle -------------------------------------------------------

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "HttpProxy":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)

"""R4/R5 live-HTTP dimension fetch: the reference pulls an instance and its
paginated dimension list from the Dataset API before transforming
(client/dimensions_api.go:70-97, page size / worker caps config.go:72-73).
These tests run the ``mapInPandas`` fetcher against a real local HTTP stub
and port the pagination-params assertions from
client/dimensions_api_test.go (one batched call per instance, correct
instance id and auth token on every request)."""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from dp_dimension_importer_spark.pipeline.http_client import (
    fetch_dimensions_http,
    fetch_instances_http,
)

INSTANCE_ID = "1234567890"


def _dim(i: int, name: str, option: str, code_list: str) -> dict:
    return {
        "dimension_id": name,
        "option": option,
        "node_id": str(i),
        "links": {"code_list": {"id": code_list}},
    }


class _StubDatasetAPI:
    """Threaded Dataset-API stub: paginated /instances/{id}/dimensions and
    /instances/{id}, recording every request's path/query/auth header."""

    def __init__(
        self,
        dims: dict[str, list[dict]],
        headers: dict[str, list[str]],
        delay: float = 0.0,
    ):
        self.requests: list[dict] = []
        self.max_in_flight = 0
        self._in_flight = 0
        self._lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def do_GET(self):
                u = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(u.query).items()}
                with stub._lock:
                    stub._in_flight += 1
                    stub.max_in_flight = max(stub.max_in_flight, stub._in_flight)
                    stub.requests.append(
                        {
                            "path": u.path,
                            "query": q,
                            "auth": self.headers.get("Authorization"),
                        }
                    )
                if delay:
                    time.sleep(delay)
                try:
                    parts = u.path.strip("/").split("/")
                    if len(parts) == 3 and parts[2] == "dimensions":
                        items = dims.get(parts[1], [])
                        off = int(q.get("offset", 0))
                        lim = int(q.get("limit", len(items)))
                        body = {
                            "items": items[off : off + lim],
                            "total_count": len(items),
                            "offset": off,
                            "limit": lim,
                        }
                    elif len(parts) == 2:
                        body = {"id": parts[1], "headers": headers.get(parts[1])}
                    else:
                        self.send_error(404)
                        return
                    payload = json.dumps(body).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(payload)))
                    self.end_headers()
                    self.wfile.write(payload)
                finally:
                    with stub._lock:
                        stub._in_flight -= 1

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_port}"
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    def close(self):
        self.server.shutdown()
        self.server.server_close()


@pytest.fixture()
def stub():
    dims = [
        _dim(1, f"{INSTANCE_ID}_Geography", "England", "myCodeList"),
        _dim(2, f"{INSTANCE_ID}_Geography", "Wales", "myCodeList"),
        _dim(3, f"{INSTANCE_ID}_Geography", "Scotland", "myCodeList"),
        _dim(4, "time", "2024", "timeCodeList"),
        _dim(5, f"{INSTANCE_ID}_Geography", "NI", "myCodeList"),
    ]
    s = _StubDatasetAPI(
        {INSTANCE_ID: dims}, {INSTANCE_ID: ["the", "CSV", "header"]}
    )
    yield s
    s.close()


@pytest.fixture()
def stub_slow():
    s = _StubDatasetAPI(
        {}, {f"inst-{i}": ["h"] for i in range(6)}, delay=0.25
    )
    yield s
    s.close()


@pytest.fixture()
def stub_slow_dims():
    ids = [f"inst-{i}" for i in range(6)]
    s = _StubDatasetAPI(
        {i: [_dim(1, f"{i}_Geography", "England", "cl")] for i in ids},
        {i: ["h"] for i in ids},
        delay=0.25,
    )
    yield s
    s.close()


def test_pagination_params_and_auth(spark, stub):
    """5 dimensions at page_size=2 → offsets exactly {0,2,4}, constant
    limit, Bearer token on every request — the paginated-batch contract of
    GetInstanceDimensionsInBatches (dimensions_api_test.go:148-170)."""
    ids = spark.createDataFrame([(INSTANCE_ID,)], "instance_id string")
    out = fetch_dimensions_http(
        ids, stub.url, auth_token="s3cret", page_size=2, max_workers=4
    )
    rows = out.collect()
    assert len(rows) == 5
    assert {r.option for r in rows} == {"England", "Wales", "Scotland", "2024", "NI"}
    assert all(r.instance_id == INSTANCE_ID for r in rows)
    dim_reqs = [r for r in stub.requests if r["path"].endswith("/dimensions")]
    assert sorted(int(r["query"]["offset"]) for r in dim_reqs) == [0, 2, 4]
    assert {r["query"]["limit"] for r in dim_reqs} == {"2"}
    assert {r["auth"] for r in stub.requests} == {"Bearer s3cret"}


def test_instance_fetch_concurrent_gets(spark, stub_slow):
    """Instance GETs within a partition overlap (bounded pool), so one slow
    endpoint delays its own request, not the whole partition: 6 instances
    behind a 0.25 s-per-request stub must show >1 request in flight at once
    and answer every id."""
    ids = spark.createDataFrame(
        [(f"inst-{i}",) for i in range(6)], "instance_id string"
    ).coalesce(1)  # single partition → overlap can only come from the pool
    out = fetch_instances_http(ids, stub_slow.url, max_workers=6)
    rows = out.collect()
    assert {r.instance_id for r in rows} == {f"inst-{i}" for i in range(6)}
    assert all(r.csv_header == ["h"] for r in rows)
    assert stub_slow.max_in_flight > 1


def test_dimension_fetch_concurrent_first_pages(spark, stub_slow_dims):
    """Every instance's first dimension page is fetched in the pool too, so
    one partition of N single-page instances costs about one round-trip,
    not N: 6 instances behind a 0.25 s-per-request stub must show >1
    request in flight at once, each GET issued once."""
    ids = spark.createDataFrame(
        [(f"inst-{i}",) for i in range(6)], "instance_id string"
    ).coalesce(1)  # single partition → overlap can only come from the pool
    out = fetch_dimensions_http(ids, stub_slow_dims.url, page_size=10, max_workers=6)
    rows = out.collect()
    assert {r.instance_id for r in rows} == {f"inst-{i}" for i in range(6)}
    assert stub_slow_dims.max_in_flight > 1
    gets = [(r["path"], r["query"]["offset"]) for r in stub_slow_dims.requests]
    assert sorted(gets) == sorted(
        (f"/instances/inst-{i}/dimensions", "0") for i in range(6)
    )


def test_import_pipeline_with_http_dimensions(spark, stub):
    """End-to-end R4/R5: instance + dimensions arrive over HTTP (not
    parquet fixtures) and flow through the unchanged import transform,
    producing the same nodes/edges as the fixture-driven happy path."""
    from dp_dimension_importer_spark.pipeline.importer import run_import
    from dp_dimension_importer_spark.pipeline.models import (
        CODE_LIST_SCHEMA,
        NODE_SCHEMA,
    )

    ids = spark.createDataFrame([(INSTANCE_ID,)], "instance_id string")
    dimensions = fetch_dimensions_http(ids, stub.url, page_size=2)
    instances = fetch_instances_http(ids, stub.url)
    events = spark.createDataFrame(
        [("/1/2/3", INSTANCE_ID)], "file_url string, instance_id string"
    )
    code_lists = spark.createDataFrame(
        [("myCodeList", "England", 0), ("myCodeList", "Wales", 1)],
        CODE_LIST_SCHEMA,
    )
    nodes = spark.createDataFrame([], NODE_SCHEMA)
    r = run_import(events, instances, dimensions, code_lists, nodes)
    assert r.instance_nodes.count() == 1
    assert [x.csv_header for x in r.instance_nodes.collect()] == [
        ["the", "CSV", "header"]
    ]
    dim_nodes = {(x.dimension_name, x.option) for x in r.dimension_nodes.collect()}
    assert dim_nodes == {
        ("Geography", "England"),
        ("Geography", "Wales"),
        ("Geography", "Scotland"),
        ("Geography", "NI"),
        ("_time", "2024"),
    }
    edges = {(x.code_list_id, x.code) for x in r.edges.collect()}
    assert edges == {
        ("myCodeList", "England"),
        ("myCodeList", "Wales"),
        ("myCodeList", "Scotland"),
        ("myCodeList", "NI"),
    }

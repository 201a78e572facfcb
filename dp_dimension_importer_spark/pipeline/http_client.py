"""Dataset-API HTTP fetchers as distributed Spark scans (reference R4/R5).

The reference pulls an instance and its dimensions over REST before the
import transform (client/dimensions_api.go:70-97) using paginated batch
requests — page size ``DatasetAPIBatchSize`` (default 1000) fetched by up to
``DatasetAPIMaxWorkers`` (default 100) concurrent workers
(config/config.go:72-73). The Spark-native shape is a ``mapInPandas`` scan
over the instance-id table: each partition opens ONE pooled HTTP session,
pages every instance's dimension list with a bounded thread pool, and emits
DIMENSION_SCHEMA rows — so total concurrency is
``partitions × max_workers`` and is capped by repartitioning the id table,
never by driver-side loops. The driver never sees a dimension row; at
100 TB the fetch scales with executors like any other scan.

Protocol (dp-api-clients-go v2 dataset client):

* ``GET {host}/instances/{id}/dimensions?offset=N&limit=B`` →
  ``{"items": [...], "total_count": T}``; pages are requested until
  ``offset ≥ T`` (first page also discovers T).
* ``GET {host}/instances/{id}`` → ``{"id": ..., "headers": [...]}``
  (model.NewInstance maps ID/CSVHeader — model/models.go:77-87).
* ``Authorization: Bearer <token>`` when a service token is configured.

Everything is stdlib ``urllib`` — no extra packages — but the opener is
built once per partition, mirroring per-partition session pooling.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote

import pandas as pd
from pyspark.sql import DataFrame

#: reference defaults (config/config.go:72-73)
DEFAULT_PAGE_SIZE = 1000
DEFAULT_MAX_WORKERS = 100

_DIM_COLS = ["instance_id", "dimension_id", "option", "node_id", "code_list_id"]


def _get_json(base_url: str, path: str, token: str, timeout: float) -> dict:
    req = urllib.request.Request(base_url.rstrip("/") + path)
    if token:
        req.add_header("Authorization", "Bearer " + token)
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode("utf-8"))


def _dim_rows(instance_id: str, items: list[dict]) -> list[tuple]:
    # field mapping pinned by model.NewDimension (model/models.go:20-34):
    # DimensionID/Option/NodeID plus the nested Links.CodeList.ID projection
    out = []
    for it in items:
        out.append(
            (
                instance_id,
                it.get("dimension_id"),
                it.get("option"),
                it.get("node_id"),
                (it.get("links") or {}).get("code_list", {}).get("id"),
            )
        )
    return out


def fetch_dimensions_http(
    instance_ids: DataFrame,
    base_url: str,
    auth_token: str = "",
    page_size: int = DEFAULT_PAGE_SIZE,
    max_workers: int = 8,
    timeout: float = 30.0,
) -> DataFrame:
    """Distributed paginated fetch of every instance's dimensions.

    ``instance_ids``: DataFrame with an ``instance_id`` column (one row per
    instance to import). Returns DIMENSION_SCHEMA-shaped rows. Concurrency
    is ``#partitions × max_workers``; repartition the input to steer it.
    Failures raise (fail-fast, like the reference's GetDimensions error
    path) — dead-lettering stays the caller's decision upstream.
    """

    def page(instance_id: str, offset: int) -> dict:
        return _get_json(
            base_url,
            f"/instances/{quote(str(instance_id), safe='')}/dimensions"
            f"?offset={offset}&limit={page_size}",
            auth_token,
            timeout,
        )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one pool per partition = the per-partition "session". Every GET
        # runs in the pool, in two waves: all first pages (each discovers
        # its instance's total), then all later pages. Only this thread
        # waits on futures, so no pool worker blocks on another.
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            for pdf in batches:
                ids = list(pdf["instance_id"].dropna())
                firsts = list(pool.map(lambda i: page(i, 0), ids))
                later = []
                for i, first in zip(ids, firsts):
                    total = int(first.get("total_count", len(first.get("items", []))))
                    offsets = range(page_size, total, page_size)
                    later.append([pool.submit(page, i, off) for off in offsets])
                rows = []
                for i, first, pages in zip(ids, firsts, later):
                    rows.extend(_dim_rows(i, first.get("items", [])))
                    for f in pages:
                        rows.extend(_dim_rows(i, f.result().get("items", [])))
                yield pd.DataFrame(rows, columns=_DIM_COLS)

    return instance_ids.select("instance_id").mapInPandas(
        scan,
        "instance_id string, dimension_id string, option string, "
        "node_id string, code_list_id string",
    )


def fetch_instances_http(
    instance_ids: DataFrame,
    base_url: str,
    auth_token: str = "",
    timeout: float = 30.0,
    max_workers: int = 8,
) -> DataFrame:
    """Distributed fetch of instance entities (csv_header) — INSTANCE_SCHEMA
    rows, one GET per instance, fanned out over a bounded per-partition
    thread pool (same session-pool shape as ``fetch_dimensions_http``; one
    slow endpoint delays its own GET, not the whole partition)."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            for pdf in batches:
                ids = [str(i) for i in pdf["instance_id"].dropna()]
                bodies = pool.map(
                    lambda iid: _get_json(
                        base_url,
                        f"/instances/{quote(iid, safe='')}",
                        auth_token,
                        timeout,
                    ),
                    ids,
                )
                rows = [
                    (body.get("id", iid), body.get("headers"))
                    for iid, body in zip(ids, bodies)
                ]
                yield pd.DataFrame(rows, columns=["instance_id", "csv_header"])

    return instance_ids.select("instance_id").mapInPandas(
        scan, "instance_id string, csv_header array<string>"
    )

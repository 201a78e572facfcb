"""Pipeline-parity tests: the five behavioral contracts from the
reference's handler tests (SURVEY.md §5.3), against the Spark pipeline on
the FIXTURES.md §B data.

1. happy path — exact node/edge/patch/completion outputs
   (incoming_instance_handler_test.go:218-245)
2. batch boundaries — batch_size=2 over 3 dims → code-order lookups
   ["England","Wales"] then ["Scotland"] (:159-199)
3. fail-fast — mid-batch failure stops downstream stages (:247-304)
4. idempotent redelivery — existing instance skipped w/o error (:939-968)
5. nil-order + empty node_id rows omitted from the patch set (:830-889)
plus dead-lettering of undecodable payloads
   (message/kafka_message_receiver_test.go:51-76), and ``import_batch`` as
the reference runs an instance: one fetch per batch, store reads bounded by
the batch (not the store's history), escaped partition names, and the
stage order when a fetch fails.
"""

from __future__ import annotations

import json

import pytest

from dp_dimension_importer_spark.pipeline import importer, sources
from dp_dimension_importer_spark.pipeline.importer import (
    BatchedCalls,
    ImportError_,
    process_instance_batched,
    run_import,
)
from dp_dimension_importer_spark.pipeline.models import (
    CODE_LIST_SCHEMA,
    DEAD_LETTER_SCHEMA,
    DIMENSION_SCHEMA,
    INSTANCE_SCHEMA,
    NODE_SCHEMA,
)
from dp_dimension_importer_spark.pipeline.sinks import jsonl_event_sink
from dp_dimension_importer_spark.session import local_frame

INSTANCE_ID = "1234567890"


@pytest.fixture()
def fixture_tables(spark):
    events = spark.createDataFrame(
        [("/1/2/3", INSTANCE_ID)], "file_url string, instance_id string"
    )
    instances = spark.createDataFrame(
        [(INSTANCE_ID, ["the", "CSV", "header"])], INSTANCE_SCHEMA
    )
    dimensions = spark.createDataFrame(
        [
            (INSTANCE_ID, f"{INSTANCE_ID}_Geography", "England", "1", "myCodeList"),
            (INSTANCE_ID, f"{INSTANCE_ID}_Geography", "Wales", "2", "myCodeList"),
            (INSTANCE_ID, f"{INSTANCE_ID}_Geography", "Scotland", "3", "myCodeList"),
            (INSTANCE_ID, "time", "2024", "4", "timeCodeList"),
        ],
        DIMENSION_SCHEMA,
    )
    code_lists = spark.createDataFrame(
        [
            ("myCodeList", "England", 0),
            ("myCodeList", "Wales", 1),
            ("myCodeList", "Scotland", None),
        ],
        CODE_LIST_SCHEMA,
    )
    empty_nodes = spark.createDataFrame([], NODE_SCHEMA)
    return events, instances, dimensions, code_lists, empty_nodes


def test_happy_path(spark, fixture_tables):
    events, instances, dimensions, code_lists, nodes = fixture_tables
    r = run_import(events, instances, dimensions, code_lists, nodes)

    # 1 instance node + 4 dimension nodes (3 Geography options + time)
    assert r.instance_nodes.count() == 1
    dim_nodes = {
        (x.dimension_name, x.option) for x in r.dimension_nodes.collect()
    }
    # R8 name derivation strips "_<instanceID>_" → "_Geography" → wait:
    # "_" + "1234567890_Geography" = "_1234567890_Geography";
    # removing "_1234567890_" leaves "Geography". 'time' → "_time".
    assert dim_nodes == {
        ("Geography", "England"),
        ("Geography", "Wales"),
        ("Geography", "Scotland"),
        ("_time", "2024"),
    }

    # edges: 3 HAS_CODE edges; the 'time' dimension is excluded (R13)
    edges = {(x.code_list_id, x.code) for x in r.edges.collect()}
    assert edges == {
        ("myCodeList", "England"),
        ("myCodeList", "Wales"),
        ("myCodeList", "Scotland"),
    }

    # patch set: England(node 1, order 0), Wales(2, 1), Scotland(3, no order),
    # time(4, no order) — all have node_id, so all patched; name=DimensionID
    patches = {
        (x.name, x.option, x.node_id, x.order) for x in r.patches.collect()
    }
    assert patches == {
        (f"{INSTANCE_ID}_Geography", "England", "1", 0),
        (f"{INSTANCE_ID}_Geography", "Wales", "2", 1),
        (f"{INSTANCE_ID}_Geography", "Scotland", "3", None),
        ("time", "2024", "4", None),
    }

    # completion event echoes the NewInstance fields
    assert [(x.file_url, x.instance_id) for x in r.completed.collect()] == [
        ("/1/2/3", INSTANCE_ID)
    ]
    assert r.rejected_events.count() == 0


def test_batch_boundaries_and_single_patch_per_chunk():
    """testBatchSize=2 over 3 dimensions: GetCodesOrder called with
    ["England","Wales"] then ["Scotland"]; one PATCH per chunk."""
    dims = [
        {"dimension_id": "1234567890_Geography", "option": "England",
         "node_id": "1", "code_list_id": "myCodeList"},
        {"dimension_id": "1234567890_Geography", "option": "Wales",
         "node_id": "2", "code_list_id": "myCodeList"},
        {"dimension_id": "1234567890_Geography", "option": "Scotland",
         "node_id": "3", "code_list_id": "myCodeList"},
    ]
    orders = {"England": 0, "Wales": 1, "Scotland": None}
    calls = BatchedCalls()
    process_instance_batched(
        INSTANCE_ID, dims, batch_size=2,
        order_lookup=lambda cl, codes: {c: orders[c] for c in codes},
        calls=calls,
    )
    assert calls.order_lookups == [
        ("myCodeList", ["England", "Wales"]),
        ("myCodeList", ["Scotland"]),
    ]
    assert len(calls.patches) == 2  # ONE patch per chunk
    assert calls.patches[0][1] == [
        {"name": "1234567890_Geography", "option": "England", "node_id": "1", "order": 0},
        {"name": "1234567890_Geography", "option": "Wales", "node_id": "2", "order": 1},
    ]
    assert calls.patches[1][1] == [
        {"name": "1234567890_Geography", "option": "Scotland", "node_id": "3"},
    ]
    assert calls.added_dimensions == [INSTANCE_ID]
    assert calls.constraints == [INSTANCE_ID]
    assert calls.completed == [INSTANCE_ID]


def test_fail_fast_mid_batch():
    """Failure in batch 2's lookup → no patch for batch 2, no
    AddDimensions, no constraint, no completion (handler tests :247-304)."""
    dims = [
        {"dimension_id": "d", "option": "England", "node_id": "1",
         "code_list_id": "cl"},
        {"dimension_id": "d", "option": "Wales", "node_id": "2",
         "code_list_id": "cl"},
        {"dimension_id": "d", "option": "Scotland", "node_id": "3",
         "code_list_id": "cl"},
    ]

    def lookup(cl, codes):
        if "Scotland" in codes:
            raise ImportError_("graph lookup failed")
        return {c: 0 for c in codes}

    calls = BatchedCalls()
    with pytest.raises(ImportError_):
        process_instance_batched(
            INSTANCE_ID, dims, batch_size=2, order_lookup=lookup, calls=calls
        )
    assert len(calls.patches) == 1  # only batch 1 patched
    assert calls.added_dimensions == []  # downstream stages never ran
    assert calls.constraints == []
    assert calls.completed == []


def test_idempotent_redelivery(spark, fixture_tables):
    """An instance whose node already exists is skipped without error and
    produces nothing (handler tests :939-968)."""
    events, instances, dimensions, code_lists, _ = fixture_tables
    existing = spark.createDataFrame(
        [("instance", INSTANCE_ID, None, None, None)], NODE_SCHEMA
    )
    r = run_import(events, instances, dimensions, code_lists, existing)
    assert r.instance_nodes.count() == 0
    assert r.dimension_nodes.count() == 0
    assert r.patches.count() == 0
    assert r.completed.count() == 0
    assert [x.instance_id for x in r.skipped_instances.collect()] == [INSTANCE_ID]


def test_nil_order_and_empty_node_id_omitted(spark, fixture_tables):
    """Rows with empty node_id AND null order are omitted from the patch
    set entirely (handler tests :830-889)."""
    _, instances, _, code_lists, nodes = fixture_tables
    events = instances.sparkSession.createDataFrame(
        [("/1/2/3", INSTANCE_ID)], "file_url string, instance_id string"
    )
    dimensions = instances.sparkSession.createDataFrame(
        [
            (INSTANCE_ID, "g", "England", "1", "myCodeList"),   # node only
            (INSTANCE_ID, "g", "Scotland", "", "myCodeList"),   # neither → omit
            (INSTANCE_ID, "g", "Wales", "", "myCodeList"),      # order only
        ],
        DIMENSION_SCHEMA,
    )
    r = run_import(events, instances, dimensions, code_lists, nodes)
    patches = {(x.option, x.node_id, x.order) for x in r.patches.collect()}
    assert patches == {("England", "1", 0), ("Wales", None, 1)}


def test_validation_reject_and_dead_letter(spark):
    """Empty instance_id → validation reject; undecodable payload → dead
    letter; neither kills the batch (kafka_message_receiver_test.go:51-76)."""
    raw = sources.read_event_batch(
        spark,
        [
            json.dumps({"file_url": "/1/2/3", "instance_id": INSTANCE_ID}),
            json.dumps({"file_url": "/x", "instance_id": ""}),  # invalid
            "I am not a valid message",  # undecodable
        ],
    )
    events, dead = sources.decode_events(raw)
    assert events.count() == 2  # decoded (validity judged next stage)
    assert [d.payload for d in dead.collect()] == ["I am not a valid message"]
    ok, rejected = importer.validate_events(events)
    assert [e.instance_id for e in ok.collect()] == [INSTANCE_ID]
    assert rejected.count() == 1


def test_dimension_name_derivation(spark):
    """R8: '_'+dimension_id with '_<instanceID>_' removed ≤2 times
    (model/models.go:46-52, models_test.go)."""
    df = spark.createDataFrame(
        [
            ("inst1", "inst1_Geography"),
            ("inst1", "time"),
            ("inst1", "inst1_inst1_Sex"),         # non-overlapping scan
            ("inst1", "inst1_inst1_inst1_X"),     # at most two removals
        ],
        "instance_id string, dimension_id string",
    )
    from pyspark.sql import functions as F

    out = df.select(
        importer.dimension_name(F.col("dimension_id"), F.col("instance_id")).alias("n")
    ).collect()
    # expectations pinned against Go strings.Replace(s, tok, "", 2) semantics
    assert [r.n for r in out] == ["Geography", "_time", "inst1_Sex", "inst1X"]


def test_csv_strict_source_dead_letters(spark, tmp_path):
    """CSV source honors the strict-decode + dead-letter contract: schema
    violations land in the dead frame with the raw line preserved; the good
    frame carries exactly the declared schema."""
    from pyspark.sql import types as T

    from dp_dimension_importer_spark.pipeline.sources import read_csv_strict

    p = tmp_path / "events.csv"
    p.write_text(
        "id,qty,name\n"
        "1,10,alpha\n"
        "2,not_a_number,beta\n"   # qty violates IntegerType
        "3,30,gamma\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("qty", T.IntegerType()),
            T.StructField("name", T.StringType()),
        ]
    )
    good, dead = read_csv_strict(spark, str(p), schema)
    assert [r.id for r in good.orderBy("id").collect()] == [1, 3]
    assert good.columns == ["id", "qty", "name"]
    deads = dead.collect()
    assert len(deads) == 1 and "not_a_number" in deads[0].payload


def test_graph_store_idempotent_standalone(spark, tmp_path):
    """The sink drops re-delivered rows BY ITSELF (null-safe identity
    anti-join) — including instance nodes whose dimension_name/option are
    NULL and edges with NULL code_list_id, which a null-unsafe join would
    re-append every delivery."""
    from dp_dimension_importer_spark.pipeline.models import EDGE_SCHEMA
    from dp_dimension_importer_spark.pipeline.sinks import ParquetGraphStore

    store = ParquetGraphStore(spark, str(tmp_path / "graph"))
    nodes = spark.createDataFrame(
        [
            ("instance", "inst1", None, None, ["h1", "h2"]),
            ("dimension", "inst1", "Geography", "England", None),
        ],
        NODE_SCHEMA,
    )
    edges = spark.createDataFrame(
        [("inst1", None, "England"), ("inst1", "cl1", None)], EDGE_SCHEMA
    )
    for _ in range(2):  # second delivery must be a no-op
        store.write_nodes(nodes, ["inst1"])
        store.write_edges(edges, ["inst1"])
    assert store.nodes().count() == 2
    assert store.edges().count() == 2
    # second instance appends without touching inst1's partition
    store.write_nodes(nodes.replace("inst1", "inst2", "instance_id"), ["inst2"])
    assert store.nodes().count() == 4
    assert store.nodes().filter("instance_id = 'inst1'").count() == 2


# --------------------------------------------------------------------------
# runner.import_batch: one fetch, batch-scoped store reads, stage order
# --------------------------------------------------------------------------


class _DatasetAPI:
    """Threaded Dataset API stub serving ``/instances/{id}`` and paged
    ``/instances/{id}/dimensions``; records every request's path and
    query. ``fail_dimensions`` answers the dimension endpoint with 500,
    ``fail_instances`` the instance endpoint."""

    def __init__(
        self,
        instances: dict[str, dict],
        fail_dimensions: bool = False,
        fail_instances: bool = False,
    ):
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
        from urllib.parse import parse_qs, unquote, urlparse

        self.requests: list[str] = []
        lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_GET(self):
                with lock:
                    stub.requests.append(self.path)
                u = urlparse(self.path)
                parts = [unquote(p) for p in u.path.strip("/").split("/")]
                inst = instances.get(parts[1]) if len(parts) > 1 else None
                if inst is None:
                    self.send_error(404)
                    return
                if len(parts) == 3:
                    if fail_dimensions:
                        self.send_error(500)
                        return
                    q = {k: int(v[0]) for k, v in parse_qs(u.query).items()}
                    items = inst["dimensions"]
                    body = {
                        "items": items[q["offset"] : q["offset"] + q["limit"]],
                        "total_count": len(items),
                    }
                else:
                    if fail_instances:
                        self.send_error(500)
                        return
                    body = {"id": parts[1], "headers": inst["headers"]}
                payload = json.dumps(body).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.url = f"http://127.0.0.1:{self.server.server_port}"
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    def close(self):
        self.server.shutdown()
        self.server.server_close()


def _api_instance(iid: str, n_dims: int) -> dict:
    return {
        "headers": ["V4_0", "Geography"],
        "dimensions": [
            {
                "dimension_id": f"{iid}_Geography",
                "option": f"G{i:02d}",
                "node_id": f"n{i}",
                "links": {"code_list": {"id": "geo"}},
            }
            for i in range(n_dims)
        ],
    }


class _Batch:
    """Output locations of ``runner.import_batch`` under one directory."""

    def __init__(self, spark, base):
        from dp_dimension_importer_spark.pipeline.sinks import (
            ParquetGraphStore,
            RecordingPatchSender,
        )

        self.base = str(base)
        self.store = ParquetGraphStore(spark, f"{base}/graph")
        self.sender = RecordingPatchSender(f"{base}/patches.jsonl")
        self.completed_dir = f"{base}/completed"
        self.dead_dir = f"{base}/dead_letter"

    def run(self, raw, instances, dimensions, code_lists):
        from dp_dimension_importer_spark.pipeline.runner import import_batch

        return import_batch(
            raw, instances, dimensions, code_lists, self.store, self.sender,
            self.completed_dir, self.dead_dir,
        )

    def jsonl(self, sub: str) -> list[dict]:
        import glob

        rows = []
        for f in sorted(glob.glob(f"{self.base}/{sub}/*.json")):
            with open(f, encoding="utf-8") as fh:
                rows.extend(json.loads(line) for line in fh if line.strip())
        return rows


def _events(spark, ids, extra=()):
    payloads = [json.dumps({"file_url": f"/{i}.csv", "instance_id": i}) for i in ids]
    return sources.read_event_batch(spark, payloads + list(extra))


def _http_frames(spark, url, ids, page_size=2):
    from dp_dimension_importer_spark.pipeline.http_client import (
        fetch_dimensions_http,
        fetch_instances_http,
    )

    id_df = spark.createDataFrame([(i,) for i in ids], "instance_id string").coalesce(1)
    return (
        fetch_instances_http(id_df, url, max_workers=2),
        fetch_dimensions_http(id_df, url, page_size=page_size, max_workers=2),
    )


def _geo_code_lists(spark):
    return spark.createDataFrame(
        [("geo", f"G{i:02d}", i if i % 3 else None) for i in range(8)],
        CODE_LIST_SCHEMA,
    )


def _persistent_rdds(spark) -> set[int]:
    # ids, not the map's size: the context cleaner may drop an earlier
    # test's cached RDD at any time
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_import_batch_serves_each_get_once_and_releases(spark, tmp_path):
    """One ``import_batch`` over HTTP-fetched frames issues every needed GET
    exactly once (one per instance, one per dimension page), however many
    sinks read the batch, and leaves no batch materialization behind."""
    from collections import Counter

    api = _DatasetAPI({"i1": _api_instance("i1", 5), "i2": _api_instance("i2", 2)})
    try:
        instances, dimensions = _http_frames(spark, api.url, ["i1", "i2"])
        out = _Batch(spark, tmp_path)
        before = _persistent_rdds(spark)
        out.run(_events(spark, ["i1", "i2"]), instances, dimensions,
                _geo_code_lists(spark))
        assert not _persistent_rdds(spark) - before
    finally:
        api.close()
    counts = Counter(api.requests)
    assert set(counts.values()) == {1}, counts
    # i1: entity + pages at offsets 0, 2, 4; i2: entity + one page
    assert len(counts) == 2 + 3 + 1
    assert out.store.nodes().count() == 2 + 5 + 2
    assert out.store.edges().count() == 5 + 2
    assert sorted(c["instance_id"] for c in out.sender.calls()) == ["i1", "i2"]
    assert sorted(r["instance_id"] for r in out.jsonl("completed")) == ["i1", "i2"]


def _seed_history(path: str, n: int) -> None:
    """``n`` imported instances in the store's layout, written with pyarrow
    (no Spark job): one instance node and one dimension node each, and one
    edge."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from dp_dimension_importer_spark.pipeline.models import EDGE_SCHEMA

    ids = [f"hist-{k:02d}" for k in range(n)]
    nodes = [("instance", i, None, None, ["h"]) for i in ids]
    nodes += [("dimension", i, "Geography", "G00", None) for i in ids]
    edges = [(i, "geo", "G00") for i in ids]
    for sub, rows, schema in (("nodes", nodes, NODE_SCHEMA),
                              ("edges", edges, EDGE_SCHEMA)):
        names = schema.fieldNames()
        table = pa.table({c: [r[k] for r in rows] for k, c in enumerate(names)},
                         schema=to_arrow_schema(schema))
        pq.write_to_dataset(table, f"{path}/{sub}", partition_cols=["instance_id"])


def _run_in_group(spark, group: str, fn) -> list:
    """Run ``fn`` with AQE off inside the Spark job group ``group``; return
    the group's jobs as lists of stage names, read after the listener bus
    has drained. (AQE submits query stages as jobs of their own,
    concurrently, so with it on the count moves by a job or two with
    timing; off, it is exact.)"""
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    return [
        [st.name for st in map(tracker.getStageInfo, tracker.getJobInfo(j).stageIds)
         if st is not None]
        for j in sorted(tracker.getJobIdsForGroup(group))
    ]


def test_import_batch_job_count_independent_of_history(spark, tmp_path):
    """The same batch costs the same number of Spark jobs into a store
    holding 8 instance partitions as into one holding 40: the store reads
    list only the batch's own partitions (past 32 paths, listing the whole
    table would be a Spark job of its own on every read). The dimension
    base, materialized in a second thread, counts in the batch's job
    group."""
    ids = ["new-1", "new-2", "hist-03"]  # two new, one redelivery
    instances = spark.createDataFrame([(i, ["h"]) for i in ids], INSTANCE_SCHEMA)
    dimensions = spark.createDataFrame(
        [(i, f"{i}_Geography", f"G{k:02d}", f"n{k}", "geo")
         for i in ids for k in range(3)],
        DIMENSION_SCHEMA,
    )
    jobs, results = {}, {}
    for n in (8, 40):
        out = _Batch(spark, tmp_path / f"h{n}")
        _seed_history(f"{out.base}/graph", n)
        raw = _events(spark, ids)
        jobs[n] = _run_in_group(
            spark, f"import-batch-history-{n}",
            lambda: results.setdefault(
                n, out.run(raw, instances, dimensions, _geo_code_lists(spark))
            ),
        )
        assert out.store.nodes().count() == 2 * n + 2 * (1 + 3)
        assert sorted(r["instance_id"] for r in out.jsonl("completed")) == [
            "new-1", "new-2"
        ]
    assert len(jobs[8]) == len(jobs[40]), jobs
    # the instance gate and the completion events are driver-side set
    # operations, not Spark joins over batch-sized frames, the raw
    # payloads decode as a local frame, and the sinks write from the
    # driver: only computing the dimension nodes and the edges is a job
    assert len(jobs[8]) <= 7, jobs
    # the patch-back is one collect on the driver, not a shuffle into
    # Python workers
    assert sum(map(len, jobs[8])) <= 10, jobs
    # a plain thread would drop the job group, and the base's jobs would
    # vanish from this count and from the traced benchmark's spans
    assert any(importer.BASE_CALL_SITE in stages for stages in jobs[8]), jobs
    # the instance nodes, the completions and the dead letters are local
    # frames: writing them collects without a job
    r = results[40]
    assert _run_in_group(spark, "import-batch-local-writes", lambda: (
        out.store.write_nodes(r.instance_nodes, r.new_ids),
        jsonl_event_sink(r.completed, f"{out.base}/completed-again"),
        jsonl_event_sink(
            local_frame(spark, [("not json", "undecodable")], DEAD_LETTER_SCHEMA),
            f"{out.base}/dead-again",
        ),
    )) == []
    assert out.store.nodes().count() == 2 * 40 + 2 * (1 + 3)


def test_empty_reads_collect_without_a_job(spark, tmp_path):
    """A graph store with no partition yet and a missing event directory
    read as empty local frames, so a batch of only new instances pays no
    Spark job for its instance-exists probe."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.pipeline.models import INSTANCE_COMPLETED_SCHEMA
    from dp_dimension_importer_spark.pipeline.sinks import (
        ParquetGraphStore,
        read_jsonl_events,
    )

    store = ParquetGraphStore(spark, str(tmp_path / "graph"))
    probe = store.nodes(["new-1"]).filter(
        (F.col("node_kind") == "instance") & F.col("instance_id").isin(["new-1"])
    )
    frames = [
        probe.select("instance_id"),
        store.nodes(),
        store.edges(),
        read_jsonl_events(spark, str(tmp_path / "absent"), INSTANCE_COMPLETED_SCHEMA),
        local_frame(spark, [], NODE_SCHEMA),
    ]
    rows = []
    jobs = _run_in_group(
        spark, "empty-reads", lambda: rows.extend(f.collect() for f in frames)
    )
    assert rows == [[]] * len(frames)
    assert jobs == []


def test_partition_dir_matches_spark_escaping(spark):
    """``partition_dir`` names a partition exactly as Spark's writer does,
    for every ASCII character, non-ASCII text, NULL and the empty string."""
    from dp_dimension_importer_spark.pipeline.sinks import partition_dir

    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    values = [chr(c) for c in range(1, 128)] + ["a/b=c%d:e#f", "é €", None, ""]
    for v in values:
        assert partition_dir("instance_id", v) == utils.getPartitionPathString(
            "instance_id", v
        ), repr(v)


def test_redelivery_with_escaped_partition_names_is_a_noop(spark, tmp_path):
    """Instance ids with characters Spark escapes in partition directory
    names still hit their own partitions: redelivering the batch adds no
    node, edge, patch or completion (the instance-exists gate skips every
    instance), and a NULL-instance row written straight through the sinks
    lands once."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.pipeline.models import EDGE_SCHEMA

    ids = ["a/b", "x=y", "p%20q", "c:d", "h#1"]
    instances = spark.createDataFrame([(i, ["h"]) for i in ids], INSTANCE_SCHEMA)
    dimensions = spark.createDataFrame(
        [(i, f"{i}_Geography", f"G{k:02d}", f"n{k}", "geo")
         for i in ids for k in range(2)],
        DIMENSION_SCHEMA,
    )
    out = _Batch(spark, tmp_path)
    for _ in range(2):
        r = out.run(_events(spark, ids), instances, dimensions,
                    _geo_code_lists(spark))
    assert sorted(x.instance_id for x in r.skipped_instances.collect()) == sorted(ids)
    nodes = out.store.nodes()
    assert nodes.count() == len(ids) * 3
    assert sorted(
        x.instance_id for x in nodes.filter(F.col("node_kind") == "instance").collect()
    ) == sorted(ids)
    assert out.store.edges().count() == len(ids) * 2
    assert len(out.sender.calls()) == len(ids)
    assert sorted(x["instance_id"] for x in out.jsonl("completed")) == sorted(ids)

    # the schemas declare instance_id non-nullable; the sink must not rely on it
    null_nodes = spark.createDataFrame(
        [("dimension", None, "Geography", "G00", None)], NODE_SCHEMA.simpleString()
    )
    null_edges = spark.createDataFrame(
        [(None, "geo", "G00")], EDGE_SCHEMA.simpleString()
    )
    for _ in range(2):
        out.store.write_nodes(null_nodes, [None])
        out.store.write_edges(null_edges, [None])
    assert out.store.nodes().filter(F.col("instance_id").isNull()).count() == 1
    assert out.store.edges().filter(F.col("instance_id").isNull()).count() == 1
    assert out.store.nodes().count() == len(ids) * 3 + 1


def _fails_after_dead_letters_before_graph(spark, tmp_path, monkeypatch,
                                           **failing) -> None:
    """A batch whose fetch fails (``failing``: ``_DatasetAPI`` flags) raises
    one exception, and none escapes a thread, after its dead letters are
    written and before any graph row, patch or completion, and leaves no
    persisted RDD behind."""
    import os
    import threading

    escaped = []
    monkeypatch.setattr(threading, "excepthook", escaped.append)
    api = _DatasetAPI({"i1": _api_instance("i1", 3)}, **failing)
    try:
        instances, dimensions = _http_frames(spark, api.url, ["i1"])
        out = _Batch(spark, tmp_path)
        before = _persistent_rdds(spark)
        with pytest.raises(Exception):
            out.run(_events(spark, ["i1"], extra=["not json"]), instances,
                    dimensions, _geo_code_lists(spark))
        assert not _persistent_rdds(spark) - before
    finally:
        api.close()
    assert escaped == []
    assert [d["payload"] for d in out.jsonl("dead_letter")] == ["not json"]
    assert not os.path.exists(f"{out.base}/graph")
    assert out.sender.calls() == []
    assert out.jsonl("completed") == []


def test_import_batch_fetch_failure_after_dead_letters_before_graph(
    spark, tmp_path, monkeypatch
):
    """A failing dimension fetch raises after the batch's dead letters are
    written and before any graph row, patch or completion (fail-fast, sink
    order unchanged), and releases whatever the batch had materialized."""
    _fails_after_dead_letters_before_graph(
        spark, tmp_path, monkeypatch, fail_dimensions=True
    )


def test_import_batch_instance_fetch_failure_keeps_stage_order(
    spark, tmp_path, monkeypatch
):
    """The instance fetch, a driver-side collect, keeps the same stage
    order: a failing instance endpoint raises after the dead letters and
    before any graph row, patch or completion, and the dimension base
    filled beside it is released."""
    _fails_after_dead_letters_before_graph(
        spark, tmp_path, monkeypatch, fail_instances=True
    )


def test_import_batch_both_fetches_failing_raise_once(spark, tmp_path, monkeypatch):
    """When the instance and the dimension endpoints fail at once, the two
    overlapping fetches still end the batch with one exception, after the
    dead letters and before any graph row, patch or completion, with the
    base released."""
    _fails_after_dead_letters_before_graph(
        spark, tmp_path, monkeypatch, fail_instances=True, fail_dimensions=True
    )


def test_import_batch_logs_one_progress_record(spark, tmp_path, caplog):
    """Each batch logs one JSON progress record at INFO, counting its
    decoded events, dead letters, new and skipped instances and dimension
    rows."""
    import logging

    ids = ["p1", "p2"]
    instances = spark.createDataFrame([(i, ["h"]) for i in ids], INSTANCE_SCHEMA)
    dimensions = spark.createDataFrame(
        [(i, f"{i}_Geography", f"G{k:02d}", f"n{k}", "geo")
         for i in ids for k in range(3)],
        DIMENSION_SCHEMA,
    )
    out = _Batch(spark, tmp_path)
    out.run(_events(spark, ["p1"]), instances, dimensions, _geo_code_lists(spark))
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="dp_dimension_importer_spark"):
        out.run(_events(spark, ids, extra=["not json"]), instances, dimensions,
                _geo_code_lists(spark))
    records = [r for r in caplog.records
               if r.name == "dp_dimension_importer_spark.pipeline.runner"]
    assert len(records) == 1
    assert records[0].levelno == logging.INFO
    progress = json.loads(records[0].getMessage())
    assert progress.pop("latency_ms") >= 0
    assert progress == {
        "events": 2,
        "dead_letters": 1,
        "new_instances": 1,
        "skipped_instances": 1,
        "dimension_rows": 3,
    }


# --------------------------------------------------------------------------
# the driver-side graph and event writers
# --------------------------------------------------------------------------

#: ids Spark escapes in directory names, plain non-ASCII, NULL and empty
_ODD_IDS = ["a/b", "x=y", "100%", "a b", "é €", None, ""]


def _odd_rows(spark):
    """Nodes and edges of every id in ``_ODD_IDS``: instance nodes with a
    NULL, an empty and a filled ``csv_header``, and edges with NULL
    fields."""
    from dp_dimension_importer_spark.pipeline.models import EDGE_SCHEMA

    headers = [None, [], ["V4_0", "Geography"]]
    nodes = [("instance", i, None, None, headers[k % 3])
             for k, i in enumerate(_ODD_IDS)]
    nodes += [("dimension", i, "Geography", "G00", None) for i in _ODD_IDS]
    edges = [(i, cl, code) for i in _ODD_IDS
             for cl, code in (("geo", "G00"), (None, "G01"), ("geo", None))]
    return (
        spark.createDataFrame(nodes, NODE_SCHEMA.simpleString()),
        spark.createDataFrame(edges, EDGE_SCHEMA.simpleString()),
    )


def _canon(rows) -> list[tuple]:
    """Rows as sortable tuples: lists become tuples, NULL sorts first."""
    out = [tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows]
    return sorted(out, key=lambda r: [(v is not None, repr(v)) for v in r])


def _as_stored(rows, schema) -> list[tuple]:
    """What a hive-partitioned store reads back: an empty ``instance_id``
    lands in the default partition and reads as NULL."""
    at = schema.fieldNames().index("instance_id")
    return _canon(tuple(v or None if k == at else v for k, v in enumerate(r))
                  for r in rows)


def _hive_rows(path: str, schema) -> list[tuple]:
    """The table at ``path`` read by pyarrow as a hive dataset, in
    ``schema``'s column order."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    part = ds.partitioning(pa.schema([("instance_id", pa.string())]), flavor="hive")
    table = ds.dataset(path, format="parquet", partitioning=part).to_table()
    return _canon(tuple(d[c] for c in schema.fieldNames()) for d in table.to_pylist())


def _files(path: str) -> list[str]:
    import os

    return sorted(
        os.path.relpath(os.path.join(d, n), path)
        for d, _, names in os.walk(path) for n in names
    )


def test_driver_writer_round_trips_odd_ids(spark, tmp_path):
    """Rows written by the driver-side writer read back unchanged through
    the store (Spark) and through a pyarrow hive dataset, in the same
    partition directories and with the same rows as Spark's
    ``partitionBy`` writer; a redelivery adds nothing, and no temporary
    file remains."""
    import os

    from dp_dimension_importer_spark.pipeline.models import EDGE_SCHEMA
    from dp_dimension_importer_spark.pipeline.sinks import ParquetGraphStore

    nodes, edges = _odd_rows(spark)
    expected_nodes = _as_stored(nodes.collect(), NODE_SCHEMA)
    expected_edges = _as_stored(edges.collect(), EDGE_SCHEMA)
    store = ParquetGraphStore(spark, str(tmp_path / "graph"))
    for _ in range(2):
        store.write_nodes(nodes, _ODD_IDS)
        store.write_edges(edges, _ODD_IDS)
    assert _canon(store.nodes().collect()) == expected_nodes
    assert _canon(store.edges().collect()) == expected_edges
    assert _hive_rows(store.nodes_dir, NODE_SCHEMA) == expected_nodes
    assert _hive_rows(store.edges_dir, EDGE_SCHEMA) == expected_edges
    assert not [f for f in _files(store.nodes_dir) + _files(store.edges_dir)
                if os.path.basename(f).startswith(".")]

    by_spark = ParquetGraphStore(spark, str(tmp_path / "spark"))
    nodes.write.partitionBy("instance_id").parquet(by_spark.nodes_dir)
    assert _canon(by_spark.nodes().collect()) == expected_nodes
    assert sorted(os.listdir(store.nodes_dir)) == sorted(
        d for d in os.listdir(by_spark.nodes_dir) if not d.startswith(("_", "."))
    )


def test_redelivery_into_spark_written_partitions_is_a_noop(spark, tmp_path):
    """A store written by Spark's ``partitionBy`` writer (every store made
    before the driver-side writer) keeps working: redelivering its rows
    adds no file, and a batch with one more row appends only that row."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.pipeline.sinks import ParquetGraphStore

    nodes, edges = _odd_rows(spark)
    store = ParquetGraphStore(spark, str(tmp_path / "graph"))
    nodes.write.partitionBy("instance_id").parquet(store.nodes_dir)
    edges.write.partitionBy("instance_id").parquet(store.edges_dir)
    before = _files(str(tmp_path))
    n_nodes, n_edges = store.nodes().count(), store.edges().count()
    store.write_nodes(nodes, _ODD_IDS)
    store.write_edges(edges, _ODD_IDS)
    assert _files(str(tmp_path)) == before
    extra = nodes.filter(F.col("node_kind") == "dimension").withColumn(
        "option", F.lit("G99")
    ).filter(F.col("instance_id") == "a/b")
    store.write_nodes(nodes.unionByName(extra), _ODD_IDS)
    assert store.nodes().count() == n_nodes + 1
    assert store.edges().count() == n_edges


def _failing_replace(monkeypatch, fail_on):
    """Make ``os.replace`` tear the temporary file and raise on the
    renames whose destination ``fail_on`` selects; every other rename
    goes through."""
    import os

    real = os.replace

    def replace(src, dst):
        if fail_on(str(dst)):
            size = os.path.getsize(src)
            with open(src, "r+b") as f:
                f.truncate(size // 2)
            raise OSError("simulated crash mid-write")
        return real(src, dst)

    monkeypatch.setattr(os, "replace", replace)


def _crash_then_redeliver(
    spark, tmp_path, monkeypatch, fail_on, edges_before: int
) -> None:
    """A batch whose ``fail_on``-selected file write fails leaves no
    visible partial file (``edges_before`` whole edges) and no instance
    node; redelivered, it lands every node, edge and completion exactly
    once."""
    import os
    from collections import Counter

    from pyspark.sql import functions as F

    ids = ["c1", "c2"]
    instances = spark.createDataFrame([(i, ["h"]) for i in ids], INSTANCE_SCHEMA)
    dimensions = spark.createDataFrame(
        [(i, f"{i}_Geography", f"G{k:02d}", f"n{k}", "geo")
         for i in ids for k in range(3)],
        DIMENSION_SCHEMA,
    )
    out = _Batch(spark, tmp_path)
    with monkeypatch.context() as m:
        _failing_replace(m, fail_on)
        with pytest.raises(OSError, match="simulated crash"):
            out.run(_events(spark, ids), instances, dimensions,
                    _geo_code_lists(spark))
    files = _files(out.base)
    assert not [f for f in files if os.path.basename(f).startswith(".")], files
    # every visible file is whole: Spark and pyarrow read them all
    nodes = out.store.nodes()
    assert nodes.filter(F.col("node_kind") == "instance").count() == 0
    assert out.store.edges().count() == edges_before
    assert out.jsonl("completed") == []

    out.run(_events(spark, ids), instances, dimensions, _geo_code_lists(spark))
    nodes = out.store.nodes()
    assert nodes.count() == len(ids) * (1 + 3)
    assert nodes.distinct().count() == nodes.count()
    edges = out.store.edges()
    assert edges.count() == len(ids) * 3
    assert edges.distinct().count() == edges.count()
    assert Counter(r["instance_id"] for r in out.jsonl("completed")) == {
        "c1": 1, "c2": 1
    }


def test_graph_write_failing_after_first_partition_redelivers_once(
    spark, tmp_path, monkeypatch
):
    """``write_edges`` failing after its first partition's file fails the
    batch before any instance node is written; the first partition's file
    is whole, the torn one invisible, and the redelivery's anti-join
    swallows the edges already written."""
    _crash_then_redeliver(
        spark, tmp_path, monkeypatch,
        lambda dst: "/edges/" in dst and "instance_id=c2" in dst,
        edges_before=3,
    )


def test_event_write_failing_redelivers_once(spark, tmp_path, monkeypatch):
    """A completion file whose write fails is never visible, the instance
    nodes are not written, and the redelivered batch completes each
    instance once."""
    _crash_then_redeliver(
        spark, tmp_path, monkeypatch,
        lambda dst: "/completed/" in dst,
        edges_before=6,
    )


def test_torn_temporary_file_is_invisible(spark, tmp_path):
    """A process killed mid-write leaves its ``.``-prefixed temporary
    file behind: the store's reads, a pyarrow hive read and the next
    write's anti-join all skip it."""
    import os

    from dp_dimension_importer_spark.pipeline.models import EDGE_SCHEMA
    from dp_dimension_importer_spark.pipeline.sinks import ParquetGraphStore

    _, edges = _odd_rows(spark)
    store = ParquetGraphStore(spark, str(tmp_path / "graph"))
    store.write_edges(edges, _ODD_IDS)
    expected = _canon(store.edges().collect())
    for d in os.listdir(store.edges_dir):
        torn = os.path.join(store.edges_dir, d, ".part-torn.parquet.tmp")
        with open(torn, "wb") as f:
            f.write(b"PAR1 torn")
    empty = os.path.join(store.edges_dir, "instance_id=fresh")
    os.makedirs(empty)
    with open(os.path.join(empty, ".part-torn.parquet.tmp"), "wb") as f:
        f.write(b"PAR1")
    store.write_edges(edges, _ODD_IDS + ["fresh"])
    assert _canon(store.edges().collect()) == expected
    assert _hive_rows(store.edges_dir, EDGE_SCHEMA) == expected

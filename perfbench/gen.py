"""Seeded input generators. The same seed gives byte-identical inputs; the
program under test only ever sees what these functions return.

* ``import_inputs`` — ``NewInstance`` payload batches plus the Dataset API
  content (instances, paginated dimensions) and the graph's code lists.
* ``table_base`` / ``table_ops`` — a keyed base table and a schedule of
  storage verbs.
* ``catalog_tables`` — the ten analytics tables the query operators read,
  shaped like the repository's synthetic test data at sf0.01.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random

import numpy as np
import pyarrow as pa

# --------------------------------------------------------------------------
# import
# --------------------------------------------------------------------------

#: Dataset API page size the fetcher requests; instances carry more
#: dimensions than this, so each spans several pages.
PAGE_SIZE = 20
#: New instances per batch, and each one's dimension-count range.
NEW_PER_BATCH = 4
DIMS_RANGE = (30, 70)
#: Instances already in the graph store before the batch (set-up writes
#: them with pyarrow, so they cost no Spark job). Past 32 partitions Spark
#: lists a directory's partitions with a job of its own, so a per-batch
#: cost that grows with the store's history shows in the timed batch.
HISTORY = 40

_DIM_NAMES = ("Geography", "Sex", "Age", "Industry", "Occupation")
_CODES_PER_LIST = 40


def _code_lists() -> list[tuple[str, str, int | None]]:
    rows = []
    for name in _DIM_NAMES + ("time",):
        for i in range(_CODES_PER_LIST):
            # every seventh code has a NULL order (nullable by contract)
            rows.append((f"cl-{name.lower()}", f"{name[:3].upper()}{i:03d}",
                         None if i % 7 == 3 else i))
    return rows


def _instance(rng: random.Random, iid: str) -> dict:
    """One instance's Dataset API content: CSV header plus dimension items
    whose options are mostly codes of their code list, some not."""
    n_target = rng.randint(*DIMS_RANGE)
    names = ["time"] + rng.sample(_DIM_NAMES, rng.randint(2, len(_DIM_NAMES)))
    items, seen, node = [], set(), 0
    while len(items) < n_target:
        name = rng.choice(names)
        prefix = name[:3].upper()
        if rng.random() < 0.15:
            code = f"{prefix}X{rng.randint(0, 99):02d}"  # not in the code list
        else:
            code = f"{prefix}{rng.randrange(_CODES_PER_LIST):03d}"
        if (name, code) in seen:
            continue
        seen.add((name, code))
        node += 1
        items.append({
            "dimension_id": "time" if name == "time" else f"{iid}_{name}",
            "option": code,
            "node_id": "" if rng.random() < 0.2 else f"n{node}",
            "links": {"code_list": {"id": f"cl-{name.lower()}"}},
        })
    return {"headers": ["V4_0", "time"] + names[1:], "dimensions": items}


def import_inputs(seed: int, n_batches: int) -> dict:
    """``HISTORY`` instances imported before the run (``history``), then
    ``n_batches`` batches of raw payloads. Each batch carries
    ``NEW_PER_BATCH`` new instances, one redelivery of an instance already
    imported, one malformed JSON payload, one JSON object with no known
    field, and one event whose instance id is empty. ``fetch`` lists the ids
    the batch's fetchers are asked for: every decodable, non-empty instance
    id it carries."""
    rng = random.Random(f"import/{seed}")
    instances: dict[str, dict] = {}
    sent = []
    for _ in range(HISTORY):
        iid = f"{rng.getrandbits(40):010x}"
        instances[iid] = _instance(rng, iid)
        sent.append({"file_url": f"s3://datasets/{iid}.csv", "instance_id": iid})
    history = [ev["instance_id"] for ev in sent]
    batches = []
    for b in range(n_batches):
        payloads, fetch = [], []
        for _ in range(NEW_PER_BATCH):
            iid = f"{rng.getrandbits(40):010x}"
            instances[iid] = _instance(rng, iid)
            ev = {"file_url": f"s3://datasets/{iid}.csv", "instance_id": iid}
            payloads.append(json.dumps(ev))
            fetch.append(iid)
        ev = rng.choice(sent)
        payloads.append(json.dumps(ev))
        fetch.append(ev["instance_id"])
        payloads.append('{"file_url": "s3://datasets/broken.csv", "instance_i')
        payloads.append(json.dumps({"dataset": rng.randint(0, 999)}))
        payloads.append(json.dumps({"file_url": "s3://datasets/x.csv",
                                    "instance_id": ""}))
        sent.extend(json.loads(p) for p in payloads[:NEW_PER_BATCH])
        rng.shuffle(payloads)
        batches.append({"payloads": payloads, "fetch": fetch})
    return {"instances": instances, "history": history, "batches": batches,
            "code_lists": _code_lists()}


# --------------------------------------------------------------------------
# table
# --------------------------------------------------------------------------

#: Base table size, hot-key set size and the ops' row counts. At 200k base
#: rows one run took 102 s on 4 shared vCPUs, against 41-45 s at 8k rows;
#: a run is kept under a minute.
TABLE_ROWS = 8_000
HOT_KEYS = 200
UPSERT_ROWS = 200
MERGE_ROWS = 100
RANGE_WIDTH = 20

#: One cycle of the op mix, in order: 4 writes, 4 reads, then maintenance
#: (a major ``compact_mor`` and a ``vacuum`` keeping ``VACUUM_KEEP``
#: versions). The seed draws the keys and values; the order is fixed, so
#: every cycle does the same work.
CYCLE = ("upsert_delta", "read_point", "merge_into", "read_latest",
         "delete_where", "read_asof", "update_where", "version_delta",
         "compact_mor", "vacuum")
VACUUM_KEEP = 3
WRITE_VERBS = ("upsert_delta", "merge_into", "delete_where", "update_where")
READ_VERBS = ("read_latest", "read_point", "read_asof", "version_delta")


def table_base(seed: int) -> list[tuple[int, str, int]]:
    rng = random.Random(f"table-base/{seed}")
    return [(k, f"b{rng.getrandbits(32):08x}", 0) for k in range(TABLE_ROWS)]


def table_ops(seed: int, n_cycles: int) -> list[list[dict]]:
    """The op schedule, one list of ops per cycle. Keys are skewed: writes
    draw 80% of their existing keys from a hot set, and upserts and merges
    also insert fresh keys. The versions a time-travel or change read
    targets are fixed by the cycle's order, not drawn (see ``wl_table``)."""
    rng = random.Random(f"table-ops/{seed}")
    hot = rng.sample(range(TABLE_ROWS), HOT_KEYS)
    fresh = TABLE_ROWS

    def keys(n_existing: int, n_fresh: int) -> list[int]:
        nonlocal fresh
        out: set[int] = set()
        while len(out) < n_existing:
            out.add(rng.choice(hot) if rng.random() < 0.8
                    else rng.randrange(TABLE_ROWS))
        out.update(range(fresh, fresh + n_fresh))
        fresh += n_fresh
        return sorted(out)

    cycles = []
    for _ in range(n_cycles):
        ops = []
        cycles.append(ops)
        for verb in CYCLE:
            op: dict = {"verb": verb}
            if verb == "upsert_delta":
                op["rows"] = [(k, f"u{rng.getrandbits(32):08x}")
                              for k in keys(UPSERT_ROWS * 4 // 5, UPSERT_ROWS // 5)]
            elif verb == "merge_into":
                op["rows"] = [(k, f"m{rng.getrandbits(32):08x}")
                              for k in keys(MERGE_ROWS * 3 // 4, MERGE_ROWS // 4)]
            elif verb in ("delete_where", "update_where"):
                lo = rng.randrange(fresh - RANGE_WIDTH)
                op["lo"], op["hi"] = lo, lo + RANGE_WIDTH
                op["tag"] = f"w{rng.getrandbits(32):08x}"
            elif verb == "read_point":
                op["keys"] = sorted({rng.choice(hot), rng.randrange(fresh),
                                     rng.randrange(TABLE_ROWS)})
            ops.append(op)
    return cycles


# --------------------------------------------------------------------------
# query catalog
# --------------------------------------------------------------------------

CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")
_EPOCH = dt.datetime(1970, 1, 1)
_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int):
    start = (dt.datetime.combine(lo, dt.time()) - _EPOCH).days
    span = (hi - lo).days
    days = start + rng.integers(0, span + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000,
                    type=pa.int64()).cast(pa.timestamp("us"))


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables, with the column names and types of the
    repository's synthetic test data and independent uniform columns at its
    sf0.01 row counts. A few documents repeat an earlier one with ``dup``
    appended, so the dedup operators find near-duplicates."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li = 1_500, 100, 2_000, 15_000, 60_000
    n_ev, n_doc, n_emb = 10_000, 500, 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["MACHINERY", "FURNITURE", "BUILDING",
                              "AUTOMOBILE", "HOUSEHOLD"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": pick([f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
                        "ECONOMY"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": pick(["P", "O", "F"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["R", "A", "N"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)})
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t0 = (dt.datetime(2024, 1, 1) - _EPOCH).days * 86_400_000_000
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(t0 + ts, type=pa.int64()).cast(pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev).astype("int64"),
        "event_type": pick(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": pick(["en", "zh", "es", "de", "fr"], n_doc),
        "source": pick([f"src{i}" for i in range(20)], n_doc),
        "n_chars": np.array([len(s) for s in texts], dtype="int64")})
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype("int32"))})
    return t


def digest(obj) -> str:
    """sha256 of a generated input, for determinism checks: JSON for plain
    data, Arrow IPC bytes for tables."""
    h = hashlib.sha256()
    if isinstance(obj, dict) and obj and all(isinstance(v, pa.Table) for v in obj.values()):
        for name in sorted(obj):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, obj[name].schema) as w:
                w.write_table(obj[name])
            h.update(name.encode())
            h.update(sink.getvalue().to_pybytes())
    else:
        h.update(json.dumps(obj, sort_keys=True).encode())
    return h.hexdigest()

"""Pure-Python reference models and the correctness checks built on them.

Every check returns a list of mismatch descriptions; an empty list means the
program's output is correct. The checks take plain Python values (rows
already collected from the program), so they run outside every timed span
and can be tested without Spark.
"""

from __future__ import annotations

import json
from collections import Counter

from dp_dimension_importer_spark.pipeline import importer

#: Dead-letter reasons the reference handler port emits.
UNDECODABLE = "undecodable payload"
REJECTED = "validation error: instance id is required but was empty"

# --------------------------------------------------------------------------
# import: the reference handler over the generated inputs
# --------------------------------------------------------------------------


def dimension_name(dimension_id: str, instance_id: str) -> str:
    """"_" + dimension_id with "_<instance_id>_" removed at most twice."""
    return ("_" + dimension_id).replace(f"_{instance_id}_", "", 2)


def _update_key(update: dict) -> str:
    return json.dumps(update, sort_keys=True)


class ImportModel:
    """Expected graph store, patch calls, completion events and dead
    letters after each batch. The per-instance work (inserted dimensions,
    code relationships, patches) comes from
    ``importer.process_instance_batched``, the port of the reference
    handler's chunk loop; decoding, validation, node naming and the
    instance-exists skip are modelled here."""

    def __init__(self, instances: dict[str, dict], code_lists: list[tuple]):
        self.instances = instances
        self.orders = {(cl, code): order for cl, code, order in code_lists}
        self.imported: set[str] = set()
        self.nodes: set[tuple] = set()
        self.edges: set[tuple] = set()
        self.patches: dict[str, Counter] = {}
        self.completed: Counter = Counter()
        self.dead: Counter = Counter()

    def load_history(self, ids: list[str]) -> None:
        """Instances imported before the run: their nodes and edges are in
        the store, their patches and completion events were sent then."""
        for iid in ids:
            self._import_instance(iid)
            self.patches.pop(iid, None)
        self.imported.update(ids)

    def _lookup(self, code_list_id: str, codes: list[str]) -> dict:
        return {c: self.orders.get((code_list_id, c)) for c in codes}

    def apply(self, batch: dict) -> list[str]:
        """Advance the model by one batch; returns the new instance ids."""
        valid = []
        for p in batch["payloads"]:
            try:
                ev = json.loads(p)
            except ValueError:
                ev = None
            if not isinstance(ev, dict) or (
                ev.get("instance_id") is None and ev.get("file_url") is None
            ):
                self.dead[(p, UNDECODABLE)] += 1
            elif not ev.get("instance_id"):
                self.dead[(ev.get("instance_id"), REJECTED)] += 1
            else:
                valid.append(ev)
        fetched = set(batch["fetch"])
        new = []
        for ev in valid:
            iid = ev["instance_id"]
            if iid in fetched and iid not in self.imported and iid not in new:
                new.append(iid)
        for iid in new:
            self._import_instance(iid)
        for ev in valid:
            if ev["instance_id"] in new:
                self.completed[(ev.get("file_url"), ev["instance_id"])] += 1
        self.imported.update(new)
        return new

    def _import_instance(self, iid: str) -> None:
        inst = self.instances[iid]
        dims = [
            {
                "dimension_id": it["dimension_id"],
                "option": it["option"],
                "node_id": it["node_id"],
                "code_list_id": it["links"]["code_list"]["id"],
            }
            for it in inst["dimensions"]
        ]
        calls = importer.BatchedCalls()
        importer.process_instance_batched(iid, dims, len(dims), self._lookup, calls)
        self.nodes.add(("instance", iid, None, None, tuple(inst["headers"])))
        for d in calls.inserted:
            self.nodes.add(("dimension", iid,
                            dimension_name(d["dimension_id"], iid),
                            d["option"], None))
        self.edges.update(calls.relationships)
        updates = Counter(_update_key(u) for _, chunk in calls.patches for u in chunk)
        if updates:
            self.patches[iid] = updates


def check_import(model: ImportModel, nodes: list[tuple], edges: list[tuple],
                 patch_calls: list[dict], completed: list[tuple],
                 dead: list[tuple]) -> list[str]:
    """Compare the program's sinks with the model. ``nodes`` rows are
    (node_kind, instance_id, dimension_name, option, csv_header) and
    ``edges`` rows (instance_id, code_list_id, code); both must hold each
    row exactly once (the sinks are idempotent)."""
    bad = []
    node_rows = Counter((k, i, n, o, tuple(h) if h is not None else None)
                        for k, i, n, o, h in nodes)
    if set(node_rows) != model.nodes or max(node_rows.values(), default=1) > 1:
        bad.append(f"nodes: {_diff(model.nodes, node_rows)}")
    edge_rows = Counter(tuple(e) for e in edges)
    if set(edge_rows) != model.edges or max(edge_rows.values(), default=1) > 1:
        bad.append(f"edges: {_diff(model.edges, edge_rows)}")
    got: dict[str, Counter] = {}
    for call in patch_calls:
        got.setdefault(call["instance_id"], Counter()).update(
            _update_key(u) for u in call["updates"])
    if got != model.patches:
        bad.append(f"patches: {_diff(set(model.patches), set(got))}")
    if Counter(completed) != model.completed:
        bad.append(f"completed: {_diff(set(model.completed), set(completed))}")
    if Counter(dead) != model.dead:
        bad.append(f"dead letters: {_diff(set(model.dead), set(dead))}")
    return bad


def _diff(want, got) -> str:
    missing = [x for x in want if x not in got][:2]
    extra = [x for x in got if x not in want][:2]
    return f"missing {missing} extra {extra}"


# --------------------------------------------------------------------------
# table: one dict per committed version
# --------------------------------------------------------------------------


class TableModel:
    """Rows per version: ``{version: {k: (val, seq)}}``, restricted to the
    versions the table still retains."""

    def __init__(self, version: int, rows: list[tuple[int, str, int]]):
        self.versions = {version: {k: (v, s) for k, v, s in rows}}

    @property
    def latest(self) -> int:
        return max(self.versions)

    def retained(self) -> list[int]:
        return sorted(self.versions)

    def commit(self, version: int, rows: dict) -> list[str]:
        """Record the rows of the version a write returned. A write that
        changed nothing may return the current version; its rows must then
        equal that version's."""
        if version in self.versions:
            if self.versions[version] != rows:
                return [f"v{version} returned again with changed rows"]
            return []
        if version < self.latest:
            return [f"v{version} is older than v{self.latest}"]
        self.versions[version] = rows
        return []

    def vacuum(self, keep_last: int) -> None:
        for v in self.retained()[:-keep_last]:
            del self.versions[v]

    # the verbs' effect on the latest rows --------------------------------

    def upserted(self, rows: list[tuple[int, str]], seq: int) -> dict:
        out = dict(self.versions[self.latest])
        out.update({k: (v, seq) for k, v in rows})
        return out

    def deleted(self, lo: int, hi: int) -> dict:
        return {k: r for k, r in self.versions[self.latest].items()
                if not lo <= k < hi}

    def updated(self, lo: int, hi: int, val: str, seq: int) -> dict:
        return {k: ((val, seq) if lo <= k < hi else r)
                for k, r in self.versions[self.latest].items()}

    def delta(self, base: int, version: int) -> set[tuple]:
        """Expected ``version_delta`` rows: (k, change_type, old, new)."""
        a = self.versions.get(base, {}) if base else {}
        b = self.versions[version]
        out = set()
        for k in a.keys() | b.keys():
            old, new = a.get(k), b.get(k)
            if old == new:
                continue
            kind = "insert" if old is None else "delete" if new is None else "update"
            out.add((k, kind, old, new))
        return out


def check_rows(want: dict, got: list[tuple], what: str) -> list[str]:
    """``got``: collected (k, val, seq) rows; each key at most once."""
    rows = {}
    for k, v, s in got:
        if k in rows:
            return [f"{what}: key {k} returned twice"]
        rows[k] = (v, s)
    if rows != want:
        return [f"{what}: {len(rows)} rows vs {len(want)} expected; "
                f"{_diff(set(want.items()), set(rows.items()))}"]
    return []


def check_versions(model: TableModel, got: dict[int, list[tuple]]) -> dict[int, list[str]]:
    """Mismatches per retained version, given each one's collected rows."""
    out = {}
    for v in model.retained():
        bad = (check_rows(model.versions[v], got[v], f"final read v{v}")
               if v in got else [f"final read v{v}: not read"])
        if bad:
            out[v] = bad
    return out


def check_delta(want: set[tuple], got: list[tuple], what: str) -> list[str]:
    if Counter(got) != Counter(want):
        return [f"{what}: {_diff(want, set(got))}"]
    return []

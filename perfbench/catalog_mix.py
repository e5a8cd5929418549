"""``catalog_mix``: the catalog plane under a closed-loop, single-client op
mix against six in-process backends, every response checked against a
shadow model of what the catalog must contain.

Backends (short names as registered with ``catalog.connect``):

==========  =======================================  ==========================
module      client                                   service (in-process)
==========  =======================================  ==========================
directory   ``dir`` (JSON state file)                local disk, no service
rest        ``rest`` (urllib3 pool)                  ``rest_fixture`` HTTP
hive        ``hive2`` (vendored Thrift ClientPool)   ``hms_fixture.FakeMetastore``
unity       ``unity`` (urllib3 pool)                 ``unity_fixture`` HTTP
polaris     ``polaris`` (urllib3 pool)               ``polaris_fixture`` HTTP
glue        ``glue`` + ``GlueWireClient``            ``glue_fixture`` HTTP
==========  =======================================  ==========================

Wire counters sit at the service boundary only: each HTTP fixture server
gets a counting ``RequestHandlerClass`` subclass and the metastore's
``_dispatch`` is wrapped on the instance, so a change to a client's own
transport is still what gets measured.
"""

from __future__ import annotations

import bisect
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field
from typing import Callable

from harness import Tracer, covered, median, percentile, tree_peak_rss_mb

N_NAMESPACES = 4
TABLES_PER_NS = 100
ZIPF_S = 1.1
PAGE_LIMIT = 40
SETUP_REPEATS = 3
MATERIALIZED_POOL = 64  # distinct parquet directories shared by materialized tables
NS_PROPERTY = ("perfbench_owner", "catalog_mix")

MODULES = ("directory", "rest", "hive", "unity", "polaris", "glue")
REMOTE = ("rest", "hive", "unity", "polaris", "glue")
HTTP = ("rest", "unity", "polaris", "glue")

# Per backend, one block holds exactly these units (200 ops); the six
# backends' units are shuffled together, so every block of 1,200 ops has
# the same mix and only keys and order depend on the seed.
BLOCK_UNITS: tuple[tuple[str, int], ...] = (
    ("describe", 75),
    ("describe_checked", 25),
    ("exists", 30),
    ("ns_describe", 5),
    ("ns_exists", 5),
    ("miss_describe", 10),
    ("miss_exists", 10),
    ("list_probed", 8),
    ("list_unprobed", 8),
    ("list_namespaces", 4),
    ("write_pair", 9),  # declare fresh + deregister earlier: 2 ops
    ("ns_pair", 1),  # create + drop an empty namespace: 2 ops
)
OPS_PER_BACKEND_BLOCK = sum(n * (2 if k.endswith("_pair") else 1) for k, n in BLOCK_UNITS)
REFERENCE_OPS = OPS_PER_BACKEND_BLOCK * len(MODULES)  # count window: first block

OP_CLASS = {
    "describe_table": "read", "table_exists": "read",
    "describe_namespace": "read", "namespace_exists": "read",
    "list_tables": "list", "list_namespaces": "list",
    "declare_table": "write", "deregister_table": "write",
    "create_namespace": "write", "drop_namespace": "write",
}


# -- service-boundary counters ----------------------------------------------


class WireCounter:
    def __init__(self, module: str, tracer: Tracer):
        self.module = module
        self.tracer = tracer
        self.calls = 0
        self.conns = 0
        self.service_s = 0.0
        self._lock = threading.Lock()

    def connection(self) -> None:
        with self._lock:
            self.conns += 1

    def call_started(self) -> tuple[int | None, int | None]:
        """Count the call and return the client operation it serves.

        Both happen before the reply goes out: a snapshot taken once the
        client holds the reply includes the call, and the client cannot yet
        have moved on to its next operation."""
        with self._lock:
            self.calls += 1
        return self.tracer.open_op()

    def call_finished(self, name: str, start: float, end: float, op) -> None:
        with self._lock:
            self.service_s += end - start
        self.tracer.record(f"service.{self.module}.{name}", start, end, op)

    def snapshot(self) -> tuple[int, int, float]:
        with self._lock:
            return self.calls, self.conns, self.service_s


def count_http_server(server, counter: WireCounter) -> None:
    """Swap the server's handler class for a counting subclass."""
    base = server.RequestHandlerClass

    def timed(method_name: str):
        inner = getattr(base, method_name)

        def handler(self):
            op = counter.call_started()
            start = time.perf_counter()
            try:
                inner(self)
            finally:
                counter.call_finished(method_name[3:], start, time.perf_counter(), op)

        return handler

    def setup(self):
        counter.connection()
        base.setup(self)

    attrs = {"setup": setup}
    for name in ("do_GET", "do_POST", "do_DELETE"):
        if hasattr(base, name):
            attrs[name] = timed(name)
    server.RequestHandlerClass = type(f"Counting{base.__name__}", (base,), attrs)


def count_metastore(metastore, counter: WireCounter) -> None:
    """Wrap ``FakeMetastore._dispatch`` on the instance: one call per RPC."""
    inner = metastore._dispatch

    def dispatch(method, args, writer):
        op = counter.call_started()
        start = time.perf_counter()
        try:
            return inner(method, args, writer)
        finally:
            counter.call_finished(method, start, time.perf_counter(), op)

    metastore._dispatch = dispatch


# -- backends ---------------------------------------------------------------


@dataclass
class Backend:
    module: str
    ns: object  # LanceNamespace
    parent: list[str]  # namespace-id prefix (warehouse / catalog level)
    probes: bool  # honours include_declared=False and check_declared=True
    counter: WireCounter | None
    closers: list[Callable[[], None]] = field(default_factory=list)
    state_path: str | None = None
    dotted_ns_listing: bool = False  # Polaris lists catalog-prefixed dotted names

    def close(self) -> None:
        for fn in self.closers:
            fn()


def boot_backends(root: str, tracer: Tracer) -> list[Backend]:
    from lance_namespace_impls_spark.catalog import connect
    from lance_namespace_impls_spark.catalog import glue_fixture, polaris_fixture
    from lance_namespace_impls_spark.catalog import rest_fixture, unity_fixture
    from lance_namespace_impls_spark.catalog.hms_fixture import FakeMetastore

    def http(module, fixture, state):
        server, url = fixture.serve(state)
        counter = WireCounter(module, tracer)
        count_http_server(server, counter)
        return url, counter, [server.shutdown, server.server_close]

    out = []
    dir_root = os.path.join(root, "directory")
    out.append(Backend(
        "directory", connect("dir", {"root": dir_root}), [], True, None,
        state_path=os.path.join(dir_root, "_namespace_catalog.json"),
    ))

    url, counter, closers = http("rest", rest_fixture, rest_fixture.CatalogState(prefix="wh"))
    out.append(Backend("rest", connect("rest", {"endpoint": url}), ["wh"], False, counter, closers))

    metastore = FakeMetastore()
    counter = WireCounter("hive", tracer)
    count_metastore(metastore, counter)
    hive = connect("hive2", {
        "uri": f"thrift://127.0.0.1:{metastore.port}", "root": os.path.join(root, "hive"),
    })
    out.append(Backend("hive", hive, [], True, counter, [metastore.close]))

    url, counter, closers = http("unity", unity_fixture, unity_fixture.UnityState())
    unity = connect("unity", {"unity.endpoint": url, "unity.root": os.path.join(root, "unity")})
    out.append(Backend("unity", unity, ["main"], True, counter, closers))

    url, counter, closers = http("polaris", polaris_fixture, polaris_fixture.PolarisState())
    polaris = connect("polaris", {
        "polaris.endpoint": url, "polaris.root": os.path.join(root, "polaris"),
    })
    out.append(Backend(
        "polaris", polaris, ["lakehouse"], True, counter, closers, dotted_ns_listing=True,
    ))

    url, counter, closers = http("glue", glue_fixture, glue_fixture.GlueState())
    glue = connect("glue", {
        "client": glue_fixture.GlueWireClient(url), "root": os.path.join(root, "glue"),
    })
    out.append(Backend("glue", glue, [], True, counter, closers))
    return out


# -- shadow model -----------------------------------------------------------


class Shadow:
    """What one backend's catalog must contain, updated after each write."""

    def __init__(self, backend: Backend, decl_root: str, pool: list[str], slot_kind):
        self.backend = backend
        self.decl_root = decl_root
        self.pool = pool
        self.slot_kind = slot_kind  # (ns, slot) -> materialized?
        self.namespaces = [f"ns{i}" for i in range(N_NAMESPACES)]
        self.extra_namespaces: list[str] = []
        # ns -> table name -> (location, materialized)
        self.tables: dict[str, dict[str, tuple[str, bool]]] = {n: {} for n in self.namespaces}
        # (ns, slot) -> current table name
        self.slot_name: dict[tuple[str, int], str] = {}
        self.generation: dict[tuple[str, int], int] = {}

    def location(self, ns: str, slot: int, gen: int) -> tuple[str, bool]:
        if self.slot_kind(ns, slot):
            idx = (hash_key(self.backend.module, ns, slot, gen)) % len(self.pool)
            return self.pool[idx], True
        return os.path.join(self.decl_root, self.backend.module, ns, f"t{slot:03d}_g{gen}"), False

    def ns_id(self, ns: str) -> list[str]:
        return self.backend.parent + [ns]

    def table_id(self, ns: str, name: str) -> list[str]:
        return self.backend.parent + [ns, name]


def hash_key(*parts) -> int:
    """Stable (process-independent) small hash for location assignment."""
    h = 2166136261
    for ch in "\x1f".join(map(str, parts)).encode():
        h = ((h ^ ch) * 16777619) & 0xFFFFFFFF
    return h


def table_name(slot: int, gen: int) -> str:
    return f"t{slot:03d}" if gen == 0 else f"t{slot:03d}_g{gen}"


def populate(backend: Backend, shadow: Shadow) -> None:
    from lance_namespace_impls_spark.catalog import models as m

    ns_api = backend.ns
    for ns in shadow.namespaces:
        ns_api.create_namespace(m.CreateNamespaceRequest(
            id=shadow.ns_id(ns), properties={NS_PROPERTY[0]: NS_PROPERTY[1]},
        ))
        for slot in range(TABLES_PER_NS):
            loc, mat = shadow.location(ns, slot, 0)
            name = table_name(slot, 0)
            ns_api.declare_table(m.DeclareTableRequest(id=shadow.table_id(ns, name), location=loc))
            shadow.tables[ns][name] = (loc, mat)
            shadow.slot_name[(ns, slot)] = name
            shadow.generation[(ns, slot)] = 0


# -- the op stream ----------------------------------------------------------


@dataclass
class Op:
    module: str
    api: str  # LanceNamespace method name
    kind: str  # unit kind that produced it
    call: Callable[[], object]
    check: Callable[[object, BaseException | None], str | None]
    commit: Callable[[], None] = lambda: None
    key: tuple[str, int] | None = None  # (namespace, slot) a table op targets


class OpStream:
    """Deterministic, seed-driven op generator over the shadow models."""

    def __init__(self, seed: int, shadows: dict[str, Shadow]):
        self.rng = random.Random(seed)
        self.shadows = shadows
        n_keys = N_NAMESPACES * TABLES_PER_NS
        weights = [1.0 / (r ** ZIPF_S) for r in range(1, n_keys + 1)]
        self.cum = []
        acc = 0.0
        for w in weights:
            acc += w
            self.cum.append(acc)
        # rank -> (ns, slot), a separate permutation per backend
        self.rank_key: dict[str, list[tuple[int, int]]] = {}
        for module in shadows:
            keys = [(n, s) for n in range(N_NAMESPACES) for s in range(TABLES_PER_NS)]
            self.rng.shuffle(keys)
            self.rank_key[module] = keys
        self.ns_counter = 0
        self.miss_counter = 0

    def _zipf_key(self, module: str) -> tuple[str, int]:
        rank = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
        n, s = self.rank_key[module][min(rank, len(self.cum) - 1)]
        return f"ns{n}", s

    def blocks(self):
        units = [(module, kind) for module in self.shadows for kind, n in BLOCK_UNITS for _ in range(n)]
        while True:
            self.rng.shuffle(units)
            block = []
            for module, kind in units:
                block.extend(self._expand(module, kind))
            yield block

    def _expand(self, module: str, kind: str) -> list[Op]:
        """Turn a unit into ops.  Ops that depend on catalog state (which
        table is current) read the shadow when they *run*, so a unit
        expanded before an earlier write still sees the catalog as it is."""
        from lance_namespace_impls_spark.catalog import models as m
        from lance_namespace_impls_spark.catalog.errors import TableNotFound

        sh = self.shadows[module]
        api = sh.backend.ns
        rng = self.rng

        if kind in ("describe", "describe_checked", "exists"):
            ns, slot = self._zipf_key(module)
            checked = kind == "describe_checked"

            def current():
                name = sh.slot_name[(ns, slot)]
                return name, sh.tables[ns][name]

            if kind == "exists":
                return [Op(module, "table_exists", kind,
                           lambda: api.table_exists(m.TableExistsRequest(id=sh.table_id(ns, current()[0]))),
                           lambda r, e: _no_error(e))]

            def check_describe(resp, err):
                if err is not None:
                    return f"unexpected {type(err).__name__}: {err}"
                loc, mat = current()[1]
                if resp.location != loc:
                    return f"location {resp.location!r} != {loc!r}"
                if (resp.properties or {}).get("table_type", "").lower() != "lance":
                    return f"table_type missing from {resp.properties!r}"
                want = (not mat) if (checked and sh.backend.probes) else None
                if resp.is_only_declared is not want:
                    return f"is_only_declared {resp.is_only_declared!r} != {want!r}"
                return None

            return [Op(module, "describe_table", kind,
                       lambda: api.describe_table(m.DescribeTableRequest(
                           id=sh.table_id(ns, current()[0]), check_declared=checked)),
                       check_describe, key=(ns, slot))]

        if kind in ("miss_describe", "miss_exists"):
            ns = f"ns{rng.randrange(N_NAMESPACES)}"
            self.miss_counter += 1
            ident = sh.table_id(ns, f"missing_{self.miss_counter}")

            def check_miss(resp, err):
                if isinstance(err, TableNotFound):
                    return None
                got = "no error" if err is None else f"{type(err).__name__}: {err}"
                return f"miss expected TableNotFound, got {got}"

            if kind == "miss_exists":
                return [Op(module, "table_exists", kind,
                           lambda: api.table_exists(m.TableExistsRequest(id=ident)), check_miss)]
            return [Op(module, "describe_table", kind,
                       lambda: api.describe_table(m.DescribeTableRequest(id=ident)), check_miss)]

        if kind in ("ns_describe", "ns_exists"):
            ns = f"ns{rng.randrange(N_NAMESPACES)}"
            if kind == "ns_exists":
                return [Op(module, "namespace_exists", kind,
                           lambda: api.namespace_exists(m.NamespaceExistsRequest(id=sh.ns_id(ns))),
                           lambda r, e: _no_error(e))]

            def check_ns(resp, err):
                if err is not None:
                    return f"unexpected {type(err).__name__}: {err}"
                got = (resp.properties or {}).get(NS_PROPERTY[0])
                return None if got == NS_PROPERTY[1] else f"namespace property {got!r}"

            return [Op(module, "describe_namespace", kind,
                       lambda: api.describe_namespace(m.DescribeNamespaceRequest(id=sh.ns_id(ns))),
                       check_ns)]

        if kind in ("list_probed", "list_unprobed"):
            ns = f"ns{rng.randrange(N_NAMESPACES)}"
            include_declared = kind == "list_unprobed"

            def drain():
                names, token = [], None
                while True:
                    resp = api.list_tables(m.ListTablesRequest(
                        id=sh.ns_id(ns), limit=PAGE_LIMIT, page_token=token,
                        include_declared=include_declared))
                    names.extend(resp.tables)
                    token = resp.page_token
                    if not token:
                        return names

            def check_list(names, err):
                if err is not None:
                    return f"unexpected {type(err).__name__}: {err}"
                want = {
                    n for n, (_, mat) in sh.tables[ns].items()
                    if include_declared or mat or not sh.backend.probes
                }
                if len(names) != len(set(names)) or set(names) != want:
                    return f"listing of {ns}: {len(names)} names, want {len(want)}"
                return None

            return [Op(module, "list_tables", kind, drain, check_list)]

        if kind == "list_namespaces":
            def drain_ns():
                names, token = [], None
                while True:
                    resp = api.list_namespaces(m.ListNamespacesRequest(
                        id=list(sh.backend.parent), page_token=token))
                    names.extend(resp.namespaces)
                    token = resp.page_token
                    if not token:
                        return names

            def check_ns_list(names, err):
                if err is not None:
                    return f"unexpected {type(err).__name__}: {err}"
                want = set(sh.namespaces) | set(sh.extra_namespaces)
                if sh.backend.dotted_ns_listing:
                    want = {".".join(sh.ns_id(n)) for n in want}
                return None if set(names) == want else f"namespaces {sorted(names)} != {sorted(want)}"

            return [Op(module, "list_namespaces", kind, drain_ns, check_ns_list)]

        if kind == "write_pair":
            ns = f"ns{rng.randrange(N_NAMESPACES)}"
            slot = rng.randrange(TABLES_PER_NS)
            pending: dict = {}

            def declare():
                gen = sh.generation[(ns, slot)] + 1
                old = sh.slot_name[(ns, slot)]
                loc, mat = sh.location(ns, slot, gen)
                pending.update(gen=gen, old=old, new=table_name(slot, gen), loc=loc, mat=mat)
                return api.declare_table(m.DeclareTableRequest(
                    id=sh.table_id(ns, pending["new"]), location=loc))

            def check_declare(resp, err):
                if err is not None:
                    return f"unexpected {type(err).__name__}: {err}"
                return None if resp.location == pending["loc"] else f"declared at {resp.location!r}"

            def commit_declare():
                sh.tables[ns][pending["new"]] = (pending["loc"], pending["mat"])
                sh.slot_name[(ns, slot)] = pending["new"]
                sh.generation[(ns, slot)] = pending["gen"]

            def deregister():
                return api.deregister_table(m.DeregisterTableRequest(id=sh.table_id(ns, pending["old"])))

            def check_deregister(resp, err):
                if err is not None:
                    return f"unexpected {type(err).__name__}: {err}"
                want = sh.tables[ns][pending["old"]][0]
                if resp.location is not None and resp.location != want:
                    return f"deregistered location {resp.location!r} != {want!r}"
                return None

            def commit_deregister():
                del sh.tables[ns][pending["old"]]

            return [
                Op(module, "declare_table", kind, declare, check_declare, commit_declare),
                Op(module, "deregister_table", kind, deregister, check_deregister, commit_deregister),
            ]

        if kind == "ns_pair":
            self.ns_counter += 1
            name = f"tmp{self.ns_counter}"

            def commit_create():
                sh.extra_namespaces.append(name)

            def commit_drop():
                sh.extra_namespaces.remove(name)

            return [
                Op(module, "create_namespace", kind,
                   lambda: api.create_namespace(m.CreateNamespaceRequest(id=sh.ns_id(name))),
                   lambda r, e: _no_error(e), commit_create),
                Op(module, "drop_namespace", kind,
                   lambda: api.drop_namespace(m.DropNamespaceRequest(id=sh.ns_id(name))),
                   lambda r, e: _no_error(e), commit_drop),
            ]
        raise ValueError(kind)


def _no_error(err: BaseException | None) -> str | None:
    return None if err is None else f"unexpected {type(err).__name__}: {err}"


# -- the workload -----------------------------------------------------------


@dataclass
class Sample:
    module: str
    api: str
    kind: str
    seconds: float
    traced: bool
    span: int
    block: int


def write_materialized_pool(root: str) -> list[str]:
    """Small parquet datasets the materialized tables point at."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"id": pa.array(range(8), pa.int64())})
    pool = []
    for i in range(MATERIALIZED_POOL):
        loc = os.path.join(root, "materialized", f"ds{i:02d}.lance")
        os.makedirs(os.path.join(loc, "data"), exist_ok=True)
        open(os.path.join(loc, "_SUCCESS"), "w").close()
        pq.write_table(table, os.path.join(loc, "data", "part-00000.parquet"))
        pool.append(loc)
    return pool


def run(seed: int, seconds: float, trace: bool, work: str) -> dict:
    tracer = Tracer(trace)
    data_root = os.path.join(work, "catalog_data")
    pool = write_materialized_pool(data_root)
    for path in pool:  # data safety: every location the ops can touch is ours
        if not os.path.realpath(path).startswith(os.path.realpath(work) + os.sep):
            raise RuntimeError(f"table location {path} escapes the work directory")
    # exactly half of each namespace's tables are materialized, so every
    # listing probes the same amount of storage whatever the seed
    kind_rng = random.Random(seed ^ 0x5EED)
    kinds = {}
    for module in MODULES:
        for n in range(N_NAMESPACES):
            slots = list(range(TABLES_PER_NS))
            kind_rng.shuffle(slots)
            kinds.update(((module, f"ns{n}", s), i < TABLES_PER_NS // 2) for i, s in enumerate(slots))

    setup_times = []
    backends: list[Backend] = []
    shadows: dict[str, Shadow] = {}
    for rep in range(SETUP_REPEATS):
        root = os.path.join(work, f"catalog_setup{rep}")
        t0 = time.perf_counter()
        backends = boot_backends(root, tracer)
        shadows = {}
        for b in backends:
            sh = Shadow(b, os.path.join(data_root, "declared"), pool,
                        lambda ns, s, _m=b.module: kinds[(_m, ns, s)])
            populate(b, sh)
            shadows[b.module] = sh
        setup_times.append(time.perf_counter() - t0)
        if rep + 1 < SETUP_REPEATS:
            for b in backends:
                b.close()
            shutil.rmtree(root, ignore_errors=True)
    try:
        stream = OpStream(seed, shadows)
        result = _measure(stream, seconds, tracer, backends)
        result["selftest_ok"] = _selftest(stream)
    finally:
        for b in backends:
            b.close()
    result["setup_s"] = median(setup_times)
    result["py_peak_rss_mb"] = sum(tree_peak_rss_mb().values())
    return result


def _measure(stream: OpStream, seconds, tracer: Tracer, backends: list[Backend]) -> dict:
    by_module = {b.module: b for b in backends}
    samples: list[Sample] = []
    failures: list[str] = []
    ref_counts = None
    base_counts = {b.module: b.counter.snapshot() for b in backends if b.counter}
    workload_span = tracer.begin("workload.catalog_mix", None)
    deadline = time.perf_counter() + seconds
    block_no = 0
    for block in stream.blocks():
        # In a traced run, even blocks run untraced so the run itself yields
        # the tracing overhead (same op mix per block by construction).
        traced = tracer.enabled and block_no % 2 == 1
        block_span = tracer.begin(f"pass.{block_no}", workload_span, workload_span) if traced else 0
        for op in block:
            span = tracer.begin(f"op.{op.module}.{op.api}", block_span, workload_span) if traced else 0
            tracer.current_op, tracer.current_trace = (span or None), workload_span
            err = None
            resp = None
            t0 = time.perf_counter()
            try:
                resp = op.call()
            except Exception as exc:  # an op failure is counted, never fatal
                err = exc
            elapsed = time.perf_counter() - t0
            tracer.current_op = None
            tracer.end(span)
            problem = op.check(resp, err)
            if problem is None:
                op.commit()
            else:
                failures.append(f"{op.module}.{op.api}[{op.kind}]: {problem}")
            samples.append(Sample(op.module, op.api, op.kind, elapsed, traced, span, block_no))
            if len(samples) == REFERENCE_OPS:
                ref_counts = {b.module: b.counter.snapshot() for b in backends if b.counter}
        tracer.end(block_span)
        block_no += 1
        if time.perf_counter() >= deadline:
            break
    tracer.end(workload_span)
    if ref_counts is None:  # the run ended inside the first block
        ref_counts = {b.module: b.counter.snapshot() for b in backends if b.counter}
    ref_ops = min(len(samples), REFERENCE_OPS)
    return {
        "samples": samples,
        "failures": failures,
        "tracer": tracer,
        "wire": {
            m: tuple(now - base for now, base in zip(ref_counts[m], base_counts[m]))
            for m in ref_counts
        },
        "ref_ops": {m: sum(1 for s in samples[:ref_ops] if s.module == m) for m in MODULES},
        "state_bytes": os.path.getsize(by_module["directory"].state_path),
    }


def _selftest(stream: OpStream) -> bool:
    """Feed the checker one wrong expected answer: it must report it."""
    op = stream._expand("directory", "describe")[0]
    resp = op.call()
    sh = stream.shadows["directory"]
    ns, slot = op.key
    name = sh.slot_name[(ns, slot)]
    loc, mat = sh.tables[ns][name]
    sh.tables[ns][name] = (loc + ".wrong", mat)
    try:
        caught = op.check(resp, None) is not None
    finally:
        sh.tables[ns][name] = (loc, mat)
    return caught and op.check(resp, None) is None


# -- metrics ----------------------------------------------------------------


def sample_counts(result: dict) -> list[tuple[str, int, float]]:
    """(op class, samples, median seconds) for the summary."""
    out = []
    for cls in ("read", "list", "write"):
        vals = [s.seconds for s in result["samples"] if OP_CLASS[s.api] == cls]
        out.append((f"catalog.{cls}", len(vals), median(vals)))
    return out


def layer_units() -> dict[str, str]:
    """Every per-layer metric this workload reports, with its unit."""
    units = {}
    for cls in ("read", "list", "write"):
        units[f"catalog.{cls}_p50_ms"] = units[f"catalog.{cls}_p99_ms"] = "ms"
    units["catalog.probed_list_p50_ms"] = units["catalog.unprobed_list_p50_ms"] = "ms"
    for module in MODULES:
        units[f"catalog.{module}.ops"] = "count"
        units[f"catalog.{module}.busy_s"] = "s"
        for cls in ("read", "list", "write"):
            units[f"catalog.{module}.{cls}_p50_ms"] = "ms"
        if module in REMOTE:
            units[f"catalog.{module}.wire_calls_per_op"] = "1/op"
            if module in HTTP:
                units[f"catalog.{module}.conns_per_op"] = "1/op"
            units[f"catalog.{module}.service_ms_per_op"] = "ms"
            units[f"catalog.{module}.client_self_ms_per_op"] = "ms"
    units["catalog.directory.state_bytes"] = "bytes"
    units["trace.overhead_pct"] = "%"
    return units


def metrics(result: dict, trace: bool) -> tuple[dict, int, int]:
    samples: list[Sample] = result["samples"]
    attempted = len(samples)
    failed = len(result["failures"])
    # Host load here comes in bursts a few seconds long, about one block:
    # each block (same op mix by construction) gives one estimate and the
    # run reports the median block.  The 99th percentile is the exception:
    # in a block it is the 12th-slowest op, inside the spread of the block's
    # 16 Hive listings, so it is taken over every op of the run instead.
    blocks: dict[int, list[float]] = {}
    for s in samples:
        blocks.setdefault(s.block, []).append(s.seconds)
    per_block = list(blocks.values())
    end_to_end = {
        "setup_s": (result["setup_s"], "s"),
        "py_peak_rss_mb": (result["py_peak_rss_mb"], "MB"),
        "ops_per_s": (median([len(b) / sum(b) for b in per_block]), "1/s"),
        "op_p50_ms": (median([percentile(b, 50) for b in per_block]) * 1e3, "ms"),
        "op_p99_ms": (percentile([s.seconds for s in samples], 99) * 1e3, "ms"),
    }
    if not trace:
        return end_to_end, attempted, failed
    layer: dict[str, tuple[float, str]] = {}

    def pct_ms(values, q):
        return percentile(values, q) * 1e3 if values else 0.0

    for cls in ("read", "list", "write"):
        vals = [s.seconds for s in samples if OP_CLASS[s.api] == cls]
        layer[f"catalog.{cls}_p50_ms"] = (pct_ms(vals, 50), "ms")
        layer[f"catalog.{cls}_p99_ms"] = (pct_ms(vals, 99), "ms")
    for kind, key in (("list_probed", "probed"), ("list_unprobed", "unprobed")):
        vals = [s.seconds for s in samples if s.kind == kind]
        layer[f"catalog.{key}_list_p50_ms"] = (pct_ms(vals, 50), "ms")
    children = result["tracer"].children()
    for module in MODULES:
        mine = [s for s in samples if s.module == module]
        layer[f"catalog.{module}.ops"] = (len(mine), "count")
        layer[f"catalog.{module}.busy_s"] = (sum(s.seconds for s in mine), "s")
        for cls in ("read", "list", "write"):
            vals = [s.seconds for s in mine if OP_CLASS[s.api] == cls]
            layer[f"catalog.{module}.{cls}_p50_ms"] = (pct_ms(vals, 50), "ms")
        if module not in REMOTE:
            continue
        calls, conns, _ = result["wire"][module]
        ref = max(result["ref_ops"][module], 1)
        layer[f"catalog.{module}.wire_calls_per_op"] = (calls / ref, "1/op")
        if module in HTTP:
            layer[f"catalog.{module}.conns_per_op"] = (conns / ref, "1/op")
        traced = [s for s in mine if s.traced and s.span]
        service = client_self = 0.0
        for s in traced:
            intervals = [(c.start, c.end) for c in children.get(s.span, [])]
            svc = covered(intervals, float("-inf"), float("inf"))
            service += svc
            client_self += s.seconds - svc
        n = max(len(traced), 1)
        layer[f"catalog.{module}.service_ms_per_op"] = (service / n * 1e3, "ms")
        layer[f"catalog.{module}.client_self_ms_per_op"] = (client_self / n * 1e3, "ms")
    layer["catalog.directory.state_bytes"] = (result["state_bytes"], "bytes")
    plain = [s.seconds for s in samples if not s.traced]
    traced_all = [s.seconds for s in samples if s.traced]
    overhead = (
        (sum(traced_all) / len(traced_all)) / (sum(plain) / len(plain)) - 1.0
        if plain and traced_all else 0.0
    )
    layer["trace.overhead_pct"] = (overhead * 100.0, "%")
    return layer, attempted, failed

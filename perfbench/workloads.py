"""The three benchmark workloads.

Each workload owns its program state and yields, per pass, a list of op
factories. A factory runs untimed (it draws the op's inputs) and returns
an `Op`: a label (the op class), a call that does the timed work and
returns its result, and a check that runs afterwards, outside the timed
region, and returns (ok, detail). A pass runs every op of the mix once,
in an order drawn from the run's seeded generator.
"""

from __future__ import annotations

import functools
import http.client
import importlib.util
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import model as txmodel

QUERY_NAMES = {  # label -> __spark_entry__.queries() key prefix
    "q01": "q01_", "q03": "q03_", "q05": "q05_", "q07": "q07_",
    "q09": "q09_", "q13": "q13_", "q16": "q16_", "q17": "q17_",
    "q18": "q18_", "q41": "q41_", "r92": "r92_",
    "cc": "q31_", "reach": "r137_", "kmeans": "q72_",
}


@dataclass
class Op:
    label: str
    run: Callable[[], Any]
    check: Callable[[Any], tuple[bool, str]]


def drop_caches(spark) -> None:
    """What the repo's bench does between queries: operators persist
    shared intermediates, and leftover blocks would slow later ops."""
    from unifydb_spark.resources import release_persisted

    release_persisted()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd_id in list(jsc.getPersistentRDDs().keySet().toArray()):
        jsc.sc().unpersistRDD(rdd_id, False)


def _oracle_check():
    """scripts/oracle_check.py: its TABLES and its `compare`, the exact
    string comparison of canonicalized pandas frames."""
    path = os.path.join(os.getcwd(), "scripts", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _substitute(sql: str, old: str, new: str) -> str:
    if old not in sql:
        raise ValueError(f"oracle twin has no {old!r} to parameterize")
    return sql.replace(old, new)


class OracledQueries:
    """Entry-point queries run through Spark and checked against their
    DuckDB twins over the same parquet, with parameterized constants
    substituted into both sides."""

    def __init__(self, spark, data_dir: str, rng: random.Random):
        import duckdb

        import __spark_entry__ as entry

        self.spark, self.data_dir, self.entry = spark, data_dir, entry
        oracle_check = _oracle_check()
        self.compare = oracle_check.compare
        fns, oracles = entry.queries(), entry.oracle_sql()
        key = {label: next(n for n in fns if n.startswith(p))
               for label, p in QUERY_NAMES.items()}
        self.fns = {label: fns[k] for label, k in key.items()}
        self.sql = {label: oracles[k] for label, k in key.items()}
        # seeded parameters: the as-of cutoff of q16 and the start nation
        # of the bound reachability rule (nations 0..4 each reach four
        # others, so every seed runs the same number of rounds)
        n_events = self._count("events")
        self.asof_tx = rng.randrange(n_events // 4, 3 * n_events // 4)
        self.start_nation = rng.randrange(0, 5)
        self.sql["q16"] = _substitute(
            self.sql["q16"], "event_id <= 5000", f"event_id <= {self.asof_tx}"
        )
        self.sql["reach"] = _substitute(
            self.sql["reach"], "WHERE src = 0", f"WHERE src = {self.start_nation}"
        )
        self.fns["q16"] = self._q16
        self.fns["reach"] = self.reach
        self.con = duckdb.connect()
        for t in oracle_check.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        self._expected: dict[str, Any] = {}

    def _count(self, table: str) -> int:
        import pyarrow.parquet as pq

        return pq.ParquetFile(f"{self.data_dir}/{table}.parquet").metadata.num_rows

    def _q16(self, spark, sf_dir):
        """q16 with the seeded cutoff in place of its constant 5000."""
        from pyspark.sql import functions as F

        eng = self.entry._events_engine(spark, sf_dir)
        return eng.query(
            {
                "find": ["?u", "?v"],
                "where": [["?u", ":user/value", "?v", "?tx", "_"]],
                "sort-by": ["?u"],
            },
            eng.db(self.asof_tx),
        ).select(F.col("u").alias("user_id"), F.col("v").alias("value"))

    def reach(self, spark, sf_dir, start_nation=None):
        """r137 with the seeded start nation in place of nation 0."""
        from unifydb_spark.sources.tables import BASES
        from unifydb_spark.values import Ref

        if start_nation is None:
            start_nation = self.start_nation
        eng = self.entry._engine(spark, sf_dir)
        start = Ref(BASES["nation"] + start_nation)
        rules = [
            [("reaches", "?x", "?y"), ["?x", ":nation/next", "?y"]],
            [
                ("reaches", "?x", "?y"),
                ["?x", ":nation/next", "?z"],
                ("reaches", "?z", "?y"),
            ],
        ]
        return eng.query(
            {
                "find": ["?to"],
                "where": [("reaches", start, "?b"), ["?b", ":nation/nationkey", "?to"]],
                "rules": rules,
                "sort-by": ["?to"],
            }
        )

    def op(self, label: str) -> Op:
        fn = self.fns[label]

        def run():
            return fn(self.spark, self.data_dir).toPandas()

        def check(pdf):
            if label not in self._expected:
                self._expected[label] = self.con.execute(self.sql[label]).df()
            rows_ok, schema_ok, exact, detail = self.compare(pdf, self._expected[label])
            return rows_ok and schema_ok and exact, detail

        return Op(label, run, check)

    def close(self) -> None:
        self.con.close()


class EntryWorkload:
    """A workload whose ops are oracled entry-point queries."""

    name = ""
    labels: list[str] = []
    reads_tables = True
    cores = 4

    def __init__(self, spark, data_dir, work_dir, rng):
        self.spark, self.data_dir, self.rng = spark, data_dir, rng
        self.queries = OracledQueries(spark, data_dir, rng)
        self.entry = self.queries.entry

    def pass_ops(self) -> list[Callable[[], Op]]:
        labels = list(self.labels)
        self.rng.shuffle(labels)
        return [functools.partial(self.queries.op, label) for label in labels]

    def after_op(self) -> None:
        drop_caches(self.spark)

    def close(self) -> None:
        self.queries.close()


class DatalogRead(EntryWorkload):
    """Read-only Datalog shapes over the virtual TPC-H fact view and the
    versioned / retraction event stores, with warm engine caches."""

    name = "datalog_read"
    nominal_pass_s = 13.0
    labels = ["q01", "q03", "q05", "q07", "q09", "q13", "q16", "q17", "q18",
              "q41", "r92"]

    def setup(self) -> None:
        self.entry._ENGINES.clear()
        drop_caches(self.spark)
        for build, attr in ((self.entry._engine, ":region/name"),
                            (self.entry._events_engine, ":user/value"),
                            (self.entry._retract_engine, ":user/bucket")):
            eng = build(self.spark, self.data_dir)
            eng.query_rows({"find": [("count", "?v", "n")],
                            "where": [["?e", attr, "?v"]]})

    def report(self) -> dict:
        return {"asof_tx": self.queries.asof_tx}


class FixpointLoops(EntryWorkload):
    """Driver-loop operators: graph fixpoints, a rule fixpoint with a
    bound argument, and an exact-decimal k-means loop."""

    name = "fixpoint_loops"
    nominal_pass_s = 18.0
    # one operator per loop family: a graph superstep loop with a
    # convergence test, the rule fixpoint, the Lloyd loop. The power
    # iterations (q32 pagerank, r122 hits) are left out: a run that warms
    # and times them too does not fit the run budget
    labels = ["cc", "reach", "kmeans"]
    # the run's untimed warm pass takes each operator's first, JIT-heavy
    # call; the timed pass then runs them in a fixed order.
    # The driver-bound loops gain nothing from more task threads, and two
    # spare cores keep JIT and GC threads off the driver's path
    cores = 2

    def pass_ops(self) -> list[Callable[[], Op]]:
        return [functools.partial(self.queries.op, label) for label in self.labels]

    def setup(self) -> None:
        self.entry._ENGINES.clear()
        drop_caches(self.spark)
        self.entry._engine(self.spark, self.data_dir).query_rows(
            {"find": [("count", "?v", "n")], "where": [["?e", ":nation/next", "?v"]]}
        )

    def report(self) -> dict:
        return {"reach_start_nation": self.queries.start_nation}


# -- tx_serve -------------------------------------------------------------------

N_CITIES = 20
N_PERSONS = 1500
N_TAGS = 30
SEED_TXS = 8
CITY_BASE, PERSON_BASE, SCHEMA_BASE = 1000, 10000, 900
MAINTAIN_EVERY = 8  # = TX_PER_PASS: one checkpoint+vacuum cycle per pass
TX_PER_PASS = 8
STMTS_PER_TX = 6
MANY_ATTRS = {"person/friend", "person/tag"}

LATEST_QUERY = {
    "find": ["?cname", {"$call": ["count", "?f", "n"]}],
    "where": [
        ["?p", ":person/city", "?c"],
        ["?c", ":city/name", "?cname"],
        ["?p", ":person/friend", "?f"],
        ["?f", ":person/age", "?age"],
        [{"$call": [">", "?age", txmodel.MIN_FRIEND_AGE]}],
    ],
}
HISTORY_QUERY = {
    "find": ["?p", {"$call": ["count", "?tx", "n"]}],
    "where": [["?p", ":person/tag", "?t", "?tx", "?added"]],
}


def seed_facts(rng: random.Random) -> list[tuple]:
    """(e, a, v, tx, added) facts of the bulk-loaded store; refs as
    ("ref", id)."""
    facts = []
    for i, attr in enumerate(sorted(MANY_ATTRS)):
        facts.append((SCHEMA_BASE + i, "unifydb/schema", attr, 1, True))
        facts.append(
            (SCHEMA_BASE + i, "unifydb/cardinality", "cardinality/many", 1, True)
        )
    for c in range(N_CITIES):
        facts.append((CITY_BASE + c, "city/name", f"city-{c:02d}", 1, True))
    persons = [PERSON_BASE + k for k in range(N_PERSONS)]
    for k, p in enumerate(persons):
        tx = 1 + k * SEED_TXS // N_PERSONS
        facts.append((p, "person/name", f"p{p}", tx, True))
        facts.append((p, "person/age", rng.randrange(18, 81), tx, True))
        facts.append((p, "person/city", txmodel.ref(CITY_BASE + rng.randrange(N_CITIES)), tx, True))
        for f in rng.sample(persons, 3):
            if f != p:
                facts.append((p, "person/friend", txmodel.ref(f), tx, True))
        for t in rng.sample(range(N_TAGS), 2):
            facts.append((p, "person/tag", f"t{t}", tx, True))
    return facts


def _to_program_value(v):
    from unifydb_spark.values import Ref

    return Ref(v[1]) if isinstance(v, tuple) else v


def _to_json_value(v):
    return {"$ref": v[1]} if isinstance(v, tuple) else v


class TxServe:
    """HTTP /transact and /query against a commit-log store with a fixed
    maintenance policy; every read is checked against a pure-Python model
    of the facts the client committed."""

    name = "tx_serve"
    nominal_pass_s = 5.0
    reads_tables = False
    cores = 4

    def __init__(self, spark, data_dir, work_dir, rng):
        self.spark, self.work_dir, self.rng = spark, work_dir, rng
        self.seed = seed_facts(rng)
        self.servers: list = []
        self.n_setups = 0

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        from unifydb_spark import Engine, FactStore
        from unifydb_spark.server import serve_background
        from unifydb_spark.txlog import LogParquetBackend

        self.close()
        self.n_setups += 1
        self.store_dir = os.path.join(self.work_dir, f"store-{self.n_setups}")
        backend = LogParquetBackend(
            self.spark, self.store_dir, maintain_every=MAINTAIN_EVERY
        )
        store = FactStore(self.spark, backend=backend)
        store.seed(
            (e, a, _to_program_value(v), tx, added)
            for e, a, v, tx, added in self.seed
        )
        self.engine = Engine(self.spark, store)
        srv, self.port = serve_background(self.engine)
        self.servers.append(srv)
        self.model = txmodel.FactModel(MANY_ATTRS)
        for fact in self.seed:
            self.model.add(*fact)
        self.tx_ids = list(range(1, SEED_TXS + 1))
        self.facts_committed = len(self.seed)
        status, payload = self._post("/query", {"query": LATEST_QUERY})
        if status != 200:
            raise RuntimeError(f"warm-up query failed: {payload}")

    def _post(self, path: str, body: dict) -> tuple[int, dict]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", path, json.dumps(body),
                         {"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read())
        finally:
            conn.close()

    # -- ops -------------------------------------------------------------------

    def _batch(self) -> list[list]:
        """One /transact body: adds, cardinality-one overwrites,
        cardinality-many adds, retractions and tempid refs, never two
        statements on the same (entity, attribute) within the tx."""
        rng, stmts, used = self.rng, [], set()
        persons = [PERSON_BASE + k for k in range(N_PERSONS)]

        def pick(attr):
            while True:
                p = rng.choice(persons)
                if (p, attr) not in used:
                    used.add((p, attr))
                    return p

        kinds = ["new", "age", "friend", "tag", "untag", "unfriend"]
        for kind in rng.sample(kinds, STMTS_PER_TX - 1) + ["age"]:
            if kind == "new":
                tmp = f"new-{len(stmts)}"
                city = CITY_BASE + rng.randrange(N_CITIES)
                stmts += [
                    ["add", tmp, "person/name", f"n{rng.randrange(10**6)}"],
                    ["add", tmp, "person/age", rng.randrange(18, 81)],
                    ["add", tmp, "person/city", {"$ref": city}],
                    ["add", tmp, "person/friend", {"$ref": pick("person/friend")}],
                    ["add", pick("person/friend"), "person/friend", tmp],
                ]
            elif kind == "age":
                stmts.append(["add", pick("person/age"), "person/age", rng.randrange(18, 81)])
            elif kind == "friend":
                p = pick("person/friend")
                stmts.append(["add", p, "person/friend", {"$ref": rng.choice(persons)}])
            elif kind == "tag":
                stmts.append(["add", pick("person/tag"), "person/tag", f"t{rng.randrange(N_TAGS)}"])
            else:
                attr = "person/tag" if kind == "untag" else "person/friend"
                p = pick(attr)
                live = self.model.live_values(p, attr)
                if live:
                    stmts.append(["retract", p, attr, _to_json_value(rng.choice(sorted(live)))])
        return stmts

    def _transact_op(self) -> Op:
        stmts = self._batch()

        def run():
            return self._post("/transact", {"tx-data": stmts})

        def check(result):
            status, payload = result
            if status != 200:
                return False, f"HTTP {status}: {payload}"
            tx = payload["tx-id"]
            tempids = payload["tempids"]
            for op, e, a, v in stmts:
                if isinstance(e, str):
                    e = tempids[e]
                if isinstance(v, dict):
                    v = txmodel.ref(v["$ref"])
                elif isinstance(v, str) and v in tempids:
                    v = txmodel.ref(tempids[v])
                self.model.add(e, a, v, tx, op == "add")
            self.tx_ids.append(tx)
            self.facts_committed += len(stmts) + 1  # + the txInstant fact
            return True, f"tx {tx}"

        return Op("tx", run, check)

    def _query_op(self, label: str) -> Op:
        if label == "historical":
            body = {"query": HISTORY_QUERY, "historical": True}
        elif label == "asof":
            body = {"query": LATEST_QUERY, "tx-id": self.rng.choice(self.tx_ids[:-1])}
        else:
            body = {"query": LATEST_QUERY}

        def run():
            return self._post("/query", body)

        def check(result):
            status, payload = result
            if status != 200:
                return False, f"HTTP {status}: {payload}"
            got = {}
            for key, n in payload["results"]:
                key = key["$ref"] if isinstance(key, dict) else key
                got[key] = n
            if label == "historical":
                want = txmodel.tag_versions_by_person(self.model.history())
            else:
                want = txmodel.friend_counts_by_city(
                    self.model.visible(body.get("tx-id"))
                )
            if got == dict(want):
                return True, f"{len(got)} groups exact"
            diff = sorted(set(got.items()) ^ set(want.items()), key=str)[:3]
            return False, f"{label} differs from the model: {diff}"

        return Op(label, run, check)

    def pass_ops(self) -> list[Callable[[], Op]]:
        plan = ["tx"] * TX_PER_PASS + ["latest", "asof", "historical"]
        self.rng.shuffle(plan)
        return [
            self._transact_op if label == "tx"
            else functools.partial(self._query_op, label)
            for label in plan
        ]

    def after_op(self) -> None:
        pass

    def report(self) -> dict:
        from helpers import dir_bytes

        return {
            "maintain_every": MAINTAIN_EVERY,
            "facts_committed": self.facts_committed,
            "bytes_per_fact": dir_bytes(self.store_dir) / self.facts_committed,
        }

    def close(self) -> None:
        for srv in self.servers:
            srv.shutdown()
            srv.server_close()
        self.servers = []
        if getattr(self, "store_dir", None):
            shutil.rmtree(self.store_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (DatalogRead, TxServe, FixpointLoops)}

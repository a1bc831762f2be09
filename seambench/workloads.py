"""The benchmark's three workloads and the closed loop that times them.

Every workload reads the fixture tables under ``seambench/data`` (the
same files at every seed); the seed picks only parameters, keys, query
order and batch membership. Each workload prepares its reference
answers (untimed), sets up the engine state (timed into ``setup_s``),
runs its untimed warm-up rotations, and then yields rotations of ops
for the timed phase. Every op's output is checked; a wrong result or an
exception is a failure.
"""

from __future__ import annotations

import collections
import math
import os
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb

from stats import Tally, rows_match

# Copies of the engine's synthetic fixture tables (seed 42), one
# directory per scale factor.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def fixtures(sf: str) -> str:
    return os.path.join(DATA, f"sf{sf}")


@dataclass
class Op:
    name: str
    kind: str  # "read", "write" or "reject"
    run: Callable[[], Any]
    check: Callable[[Any], str | None]


@dataclass
class Env:
    spark: Any
    work: str
    seed: int
    cores: int
    repo: str
    smoke: bool = False
    tracer: Any = None
    tally: Tally = field(default_factory=Tally)

    def timed(self, metric: str, fn: Callable[[], Any]) -> Any:
        """Run ``fn``; in the traced run add its duration to ``metric``."""
        t0 = time.perf_counter()
        out = fn()
        if self.tracer is not None:
            self.tracer.count(metric, time.perf_counter() - t0)
        return out


@dataclass
class Timed:
    ops: int
    wall: float
    latencies: dict[str, list[float]]  # by op kind
    by_name: dict[str, list[float]]
    rotations: list[float]  # wall time of each rotation


def run_op(env: Env, op: Op) -> tuple[float, bool]:
    """Run and check one op; returns its latency and whether it passed.
    The check and the trace reads are not part of the latency."""
    ctx = env.tracer.op() if env.tracer is not None else nullcontext()
    problem = None
    with ctx:
        t0 = time.perf_counter()
        try:
            out = op.run()
        except Exception as e:  # an op failure is a result, not a crash
            problem = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        dt = time.perf_counter() - t0
    if problem is None:
        problem = op.check(out)
    return dt, env.tally.record(op.name, problem)


def timed_phase(env: Env, workload, seconds: float) -> Timed:
    """Closed loop, one client: a fixed number of whole rotations, the
    number that takes about ``seconds`` at the workload's nominal
    rotation time. The op count, not the clock, ends the phase, so a run
    that happens to be slow does the same work as a fast one.

    ``wall`` is the whole phase: ops, their checks and, in the traced
    run, the tracer's stage reads. Every op counts in ``ops``; failed
    ops and ops expected to be refused ("reject") have no latency."""
    lat: dict[str, list[float]] = collections.defaultdict(list)
    by_name: dict[str, list[float]] = collections.defaultdict(list)
    rotations: list[float] = []
    ops = 0
    t0 = time.perf_counter()
    for _ in range(max(1, math.ceil(seconds / workload.rotation_s))):
        rotation = workload.rotation(env)
        if rotation is None:
            break
        t_rot = time.perf_counter()
        for op in rotation:
            dt, ok = run_op(env, op)
            ops += 1
            if ok and op.kind != "reject":
                lat[op.kind].append(dt)
                by_name[op.name].append(dt)
        rotations.append(time.perf_counter() - t_rot)
    return Timed(ops=ops, wall=time.perf_counter() - t0, latencies=dict(lat),
                 by_name=dict(by_name), rotations=rotations)


def collect(env: Env, df, metric: str) -> list[tuple]:
    return [tuple(r) for r in env.timed(metric, df.collect)]


class Workload:
    """A workload: ``prepare`` makes the inputs (untimed), ``setup``
    builds the engine state, ``warmup`` returns the ops of one untimed
    warm-up pass, ``rotation`` returns the next rotation's ops (None
    when the inputs are used up), ``gauges`` adds end-of-run per-layer
    values and ``finish`` checks end-of-run invariants."""

    name = ""
    # Rotation time falls over the first rotations (JIT, code
    # generation); after two it is within about 15% of its floor.
    warmup_rotations = 2
    # Nominal seconds per warm rotation on a 4-core VM: sets how many
    # rotations make up a timed phase of the requested length.
    rotation_s = 1.0

    def prepare(self, env: Env) -> None:
        pass

    def setup(self, env: Env) -> None:
        pass

    def warmup(self, env: Env):
        return self.rotation(env)

    def rotation(self, env: Env):
        raise NotImplementedError

    def gauges(self, env: Env) -> dict[str, float]:
        return {}

    def finish(self, env: Env) -> None:
        pass


# ----------------------------------------------------------- pg_sql
# Engine tables: columns (name, Postgres type) and primary key. Date
# columns are left out: the engine has no date type.
PG_TABLES = {
    "region": ([("r_regionkey", "integer"), ("r_name", "text")], ["r_regionkey"]),
    "nation": ([("n_nationkey", "integer"), ("n_name", "text"),
                ("n_regionkey", "integer")], ["n_nationkey"]),
    "customer": ([("c_custkey", "bigint"), ("c_name", "text"),
                  ("c_nationkey", "integer"), ("c_acctbal", "double precision"),
                  ("c_mktsegment", "text")], ["c_custkey"]),
    "supplier": ([("s_suppkey", "bigint"), ("s_name", "text"),
                  ("s_nationkey", "integer"), ("s_acctbal", "double precision")],
                 ["s_suppkey"]),
    "part": ([("p_partkey", "bigint"), ("p_name", "text"), ("p_brand", "text"),
              ("p_type", "text"), ("p_size", "integer"),
              ("p_retailprice", "double precision")], ["p_partkey"]),
    "orders": ([("o_orderkey", "bigint"), ("o_custkey", "bigint"),
                ("o_orderstatus", "text"), ("o_totalprice", "double precision"),
                ("o_orderpriority", "text")], ["o_orderkey"]),
    "lineitem": ([("l_orderkey", "bigint"), ("l_partkey", "bigint"),
                  ("l_suppkey", "bigint"), ("l_linenumber", "integer"),
                  ("l_quantity", "double precision"),
                  ("l_extendedprice", "double precision"),
                  ("l_discount", "double precision"), ("l_tax", "double precision"),
                  ("l_returnflag", "text"), ("l_linestatus", "text")],
                 ["l_orderkey", "l_linenumber"]),
    "documents": ([("doc_id", "bigint"), ("text", "text"), ("lang", "text"),
                   ("source", "text"), ("n_chars", "bigint")], ["doc_id"]),
}
PG_DATABASE, PG_USER = "main", "root"


def bulk_load(eng, spark, table: str, path: str, columns: list[str]) -> int:
    """Load a fixture parquet file into an engine table as one
    snapshot segment (a bulk load: no INSERT validation). Returns the
    row count committed."""
    from seamdb_spark.snapshots import TableSnapshots

    desc = eng.store.get_table(eng.database, table)
    df = spark.read.parquet(path).select(*columns)
    df = df.select(*[df[c].cast(f.dataType) for c, f in zip(columns, desc.spark_schema())])
    snaps = TableSnapshots(eng.store.table_dir(eng.database, table))
    snaps.commit(df)
    return eng.sql(f"SELECT count(*) FROM {table}").collect()[0][0]


class PgSql(Workload):
    """Single PostgreSQL-dialect statements through ``Engine.sql``
    against eight small engine tables: the per-statement floor."""

    name = "pg_sql"
    rotation_s = 4.0

    def prepare(self, env: Env) -> None:
        self.data = fixtures("0.001" if env.smoke else "0.01")
        self.rng = random.Random(env.seed)
        self.duck = duckdb.connect()
        self.duck.execute("SET default_null_order = 'nulls_last_on_asc_first_on_desc'")
        for name, (cols, _pk) in PG_TABLES.items():
            path = os.path.join(self.data, f"{name}.parquet")
            self.duck.execute(
                f"CREATE VIEW {name} AS SELECT {', '.join(c for c, _ in cols)} "
                f"FROM read_parquet('{path}')"
            )
        self.sizes = {
            t: self.duck.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            for t in ("customer", "orders", "part")
        }

    def setup(self, env: Env) -> None:
        from seamdb_spark.engine import Engine

        self.eng = Engine(env.spark, os.path.join(env.work, "warehouse"),
                          database=PG_DATABASE, user=PG_USER)
        for name, (cols, pk) in PG_TABLES.items():
            ddl = ", ".join(f"{c} {t}" for c, t in cols)
            self.eng.sql(f"CREATE TABLE {name} ({ddl}, PRIMARY KEY ({', '.join(pk)}))")
            n = bulk_load(self.eng, env.spark, name,
                          os.path.join(self.data, f"{name}.parquet"), [c for c, _ in cols])
            want = self.duck.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
            env.tally.record(f"load {name}", None if n == want else f"{n} rows, want {want}")

    def _statements(self) -> list[tuple[str, str, Any]]:
        """One rotation: (name, sql, expected) where expected is None
        (ask DuckDB), or the known rows. Parameters come from the seed."""
        r, s = self.rng, self.sizes
        c1, c2, c3 = (r.randrange(s["customer"]) for _ in range(3))
        o1, o2 = r.randrange(s["orders"]), r.randrange(s["orders"] - 5)
        c_lo = r.randrange(max(s["customer"] - 60, 1))
        c_lo2 = r.randrange(max(s["customer"] - 20, 1))
        tables = sorted(PG_TABLES)
        return [
            ("point_customer",
             "SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer "
             f"WHERE c_custkey = {c1}", None),
            ("point_orders",
             "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
             f"WHERE o_orderkey = {o1}", None),
            # NULLIF makes NULLs in the sort key (the fixtures have
            # none), which Postgres puts first under DESC.
            ("range_desc_customer",
             "SELECT c_custkey, NULLIF(c_nationkey, "
             f"{r.randrange(25)}) AS nk, c_acctbal FROM customer "
             f"WHERE c_custkey BETWEEN {c_lo} AND {c_lo + 60} "
             "ORDER BY nk DESC, c_acctbal DESC, c_custkey", None),
            ("range_desc_orders",
             "SELECT o_orderkey, o_totalprice FROM orders "
             f"WHERE o_custkey BETWEEN {c_lo2} AND {c_lo2 + 20} "
             "ORDER BY o_totalprice DESC, o_orderkey", None),
            ("group_lineitem",
             "SELECT l_returnflag, l_linestatus, count(*) AS n, "
             "sum(l_linenumber) AS lines, min(l_extendedprice) AS lo, "
             "max(l_extendedprice) AS hi FROM lineitem "
             f"WHERE l_partkey < {r.randrange(s['part'] // 4, s['part'])} "
             "GROUP BY l_returnflag, l_linestatus", None),
            ("group_part",
             "SELECT p_brand, count(*) AS n, max(p_retailprice) AS hi FROM part "
             f"WHERE p_size >= {r.randrange(1, 40)} GROUP BY p_brand", None),
            ("join_orders_customer",
             "SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment "
             "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
             f"WHERE c.c_custkey = {c2} OR c.c_custkey = {c3}", None),
            ("casts",
             "SELECT o_orderkey::text AS k, o_custkey::text AS c, "
             "(o_orderkey * 2)::bigint AS d FROM orders "
             f"WHERE o_orderkey BETWEEN {o2} AND {o2 + 4}", None),
            ("session_functions",
             "SELECT current_user AS u, current_schema() AS s, "
             "current_database() AS d", [(PG_USER, "public", PG_DATABASE)]),
            ("show_tables", "SHOW TABLES", [(t,) for t in tables]),
            ("information_schema",
             "SELECT table_name FROM information_schema.tables "
             "WHERE table_schema = 'public'", [(t,) for t in tables]),
        ]

    def _op(self, env: Env, name: str, sql: str, expected) -> Op:
        def run():
            return collect(env, self.eng.sql(sql), "engine.action_s")

        def check(rows):
            want = expected
            if want is None:
                want = [tuple(r) for r in self.duck.execute(sql).fetchall()]
            return rows_match(rows, want, ordered="ORDER BY" in sql)

        return Op(name, "read", run, check)

    def rotation(self, env: Env) -> list[Op]:
        return [self._op(env, *st) for st in self._statements()]

    def finish(self, env: Env) -> None:
        self.duck.close()


# ----------------------------------------------------- df_analytics
# Registry queries in the rotation: none materializes (the memo in
# operators.materialize) and none streams.
# One per operator family, an odd count so that a rotation's median
# falls on one query, not between two.
DF_QUERIES = [
    "q03_shipping_priority", "q17_window_rank", "t05_wordcount",
    "e07_funnel_steps", "d01_dedup_exact", "s01_ann_bruteforce_topk",
    "x05_histogram",
]
# Registry names of the Structured Streaming gates.
STREAMING_GATES = tuple(f"e{n}" for n in range(44, 53))


class _Collected:
    """A collected result in the shape ``parity_check.compare`` reads."""

    def __init__(self, columns, schema, rows) -> None:
        self.columns, self.schema, self._rows = columns, schema, rows

    def collect(self):
        return self._rows


class DfAnalytics(Workload):
    """A fixed rotation of registry DataFrame queries, each timed to
    ``.collect()``: executor CPU and shuffle, no engine layers."""

    name = "df_analytics"
    rotation_s = 4.0

    def prepare(self, env: Env) -> None:
        import sys

        sys.path.insert(0, os.path.join(env.repo, "scripts"))
        import parity_check

        import __spark_entry__

        self.pc = parity_check
        self.queries = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()
        for name in DF_QUERIES:
            if name.startswith(STREAMING_GATES):
                raise ValueError(f"{name} is a streaming gate")
        self.sf_dir = fixtures("0.001" if env.smoke else "0.1")
        con = parity_check.duck_connection(self.sf_dir)
        self.oracle = {}
        for name in DF_QUERIES:
            rel = con.sql(oracles[name])
            self.oracle[name] = (list(rel.columns), list(rel.types), rel.fetchall())
        con.close()
        self.order = DF_QUERIES[:]
        random.Random(env.seed).shuffle(self.order)

    def _op(self, env: Env, name: str) -> Op:
        from seamdb_spark.operators import materialize

        seen = {}

        def run():
            seen["before"] = set(materialize._MATERIALIZED)
            df = env.timed("operators.build_s", lambda: self.queries[name](env.spark, self.sf_dir))
            rows = env.timed("operators.action_s", df.collect)
            seen["after"] = set(materialize._MATERIALIZED)
            return _Collected(df.columns, df.schema, rows)

        def check(res):
            added = seen["after"] - seen["before"]
            if added:
                return f"materialized {sorted(k[2] for k in added)} in a timed op"
            cols, types, rows = self.oracle[name]
            problems = self.pc.oracle_dtype_problems(cols, types, res.schema)
            problems += self.pc.compare(name, res, rows, cols)
            return "; ".join(problems) if problems else None

        return Op(name, "read", run, check)

    def rotation(self, env: Env) -> list[Op]:
        return [self._op(env, n) for n in self.order]


# ------------------------------------------------------- doc_ingest
INITIAL_DOCS = 500  # admitted in one batch at set-up
BATCH_DOCS = 100
REJECT_EVERY = 2  # every k-th admission first tries one duplicate doc_id
# Point lookups after each admission: enough read samples (42 in two
# rotations) that the tail rule (10 samples beyond) lands at p76.
LOOKUPS = 20
# The warm-up pass needs each read statement's shape, not its count.
WARMUP_LOOKUPS = 4


class DocIngest(Workload):
    """Seeded document batches admitted into an engine table with a
    maintained LSH index, each followed by a GROUP BY and seeded point
    lookups."""

    name = "doc_ingest"
    rotation_s = 10.0
    # The initial corpus is admitted through the same path at set-up,
    # which warms the write side; one pass of the reads warms the rest.
    warmup_rotations = 1

    def prepare(self, env: Env) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(fixtures("0.001" if env.smoke else "0.1"),
                                          "documents.parquet"),
                             columns=["doc_id", "text", "source"]).to_pylist()
        self.rng = random.Random(env.seed)
        self.rng.shuffle(docs)
        initial = len(docs) // 2 if env.smoke else INITIAL_DOCS
        batch = 5 if env.smoke else BATCH_DOCS
        self.batches = [docs[:initial]] + [
            docs[i:i + batch] for i in range(initial, len(docs), batch)
        ]
        self.doc = {d["doc_id"]: d for d in docs}
        self.staging = os.path.join(env.work, "staging.parquet")
        pq.write_table(pa.Table.from_pylist([
            {**d, "batch": b} for b, batch_docs in enumerate(self.batches) for d in batch_docs
        ], schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                             ("source", pa.string()), ("batch", pa.int32())])), self.staging)
        self.admitted: list[int] = []  # doc ids in admission order
        self.by_source: collections.Counter = collections.Counter()
        self.pairs: set[tuple[int, int]] = set()
        self.admissions = 0
        self.user_bytes = 0

    def setup(self, env: Env) -> None:
        from seamdb_spark.dedup_index import IncrementalLSHIndex
        from seamdb_spark.engine import Engine
        from seamdb_spark.snapshots import TableSnapshots

        self.eng = Engine(env.spark, os.path.join(env.work, "warehouse"))
        self.eng.sql("CREATE TABLE docs (id serial PRIMARY KEY, "
                     "doc_id bigint UNIQUE, text text, source text)")
        self.eng.sql("CREATE TABLE staging (doc_id bigint PRIMARY KEY, "
                     "text text, source text, batch integer)")
        n = bulk_load(self.eng, env.spark, "staging", self.staging,
                      ["doc_id", "text", "source", "batch"])
        env.tally.record("load staging", None if n == len(self.doc) else f"{n} rows")
        self.idx = IncrementalLSHIndex(self.eng, "docs_lsh", "docs", "doc_id", "text")
        self.docs_snaps = TableSnapshots(self.eng.store.table_dir(self.eng.database, "docs"))
        # The initial corpus goes through the same admission path.
        run_op(env, self._admit(env, 0, bounded=False))

    def _insert_sql(self, b: int, extra_id: int | None = None) -> str:
        cond = f"batch = {b}" + (f" OR doc_id = {extra_id}" if extra_id is not None else "")
        return ("INSERT INTO docs (doc_id, text, source) "
                f"SELECT doc_id, text, source FROM staging WHERE {cond}")

    def _admit(self, env: Env, b: int, bounded: bool = True) -> Op:
        ids = [d["doc_id"] for d in self.batches[b]]

        def run():
            n = self.eng.sql(self._insert_sql(b)).collect()[0][0]
            refreshed = self.idx.refresh()
            batch_ids = env.spark.createDataFrame([(i,) for i in ids], "doc_id long")
            pairs = env.timed("dedup_index.lookup_s", lambda: self.idx.new_candidate_pairs(
                batch_ids, bounded=bounded).collect())
            return n, refreshed, [(p.doc_a, p.doc_b) for p in pairs]

        def check(out):
            n, refreshed, pairs = out
            if env.tracer is not None:
                env.tracer.count("dedup_index.candidates", len(pairs))
            self.admissions += 1
            self.admitted += ids
            self.by_source.update(self.doc[i]["source"] for i in ids)
            batch = set(ids)
            self.pairs.update(pairs)
            if env.tracer is not None:
                self.user_bytes += sum(
                    8 + len(self.doc[i]["text"].encode()) + len(self.doc[i]["source"].encode())
                    for i in ids
                )
            if n != len(ids):
                return f"inserted {n}, expected {len(ids)}"
            if refreshed["mode"] != "incremental" or refreshed["n_new_docs"] != len(ids):
                return f"refresh {refreshed}"
            bad = [p for p in pairs if not (p[0] < p[1] and (p[0] in batch or p[1] in batch))]
            return f"pairs outside the batch: {bad[:3]}" if bad else None

        return Op(f"admit batch {b}", "write", run, check)

    def _reject(self, env: Env, b: int) -> Op:
        from seamdb_spark.errors import UniqueIndexError

        dup = self.rng.choice(self.admitted)

        def run():
            before = self.docs_snaps.current_version()
            try:
                self.eng.sql(self._insert_sql(b, dup)).collect()
            except UniqueIndexError:
                return before, self.docs_snaps.current_version(), True
            return before, self.docs_snaps.current_version(), False

        def check(out):
            before, after, raised = out
            if not raised:
                return f"duplicate doc_id {dup} was admitted"
            return None if before == after else f"manifest moved {before} -> {after}"

        return Op(f"reject duplicate in batch {b}", "reject", run, check)

    def _reads(self, env: Env, lookups: int = LOOKUPS) -> list[Op]:
        want_sources = dict(self.by_source)

        def group_by():
            return collect(env, self.eng.sql(
                "SELECT source, count(*) AS n FROM docs GROUP BY source"), "engine.action_s")

        def lookup(key: int) -> Op:
            def run():
                return collect(env, self.eng.sql(
                    f"SELECT id, doc_id, source FROM docs WHERE doc_id = {key}"),
                    "engine.action_s")

            def check(rows):
                if len(rows) != 1 or rows[0][1] != key or rows[0][2] != self.doc[key]["source"]:
                    return f"lookup of {key} returned {rows}"
                return None

            return Op("point lookup", "read", run, check)

        return [
            Op("group by source", "read", group_by,
               lambda rows: rows_match(rows, list(want_sources.items()), ordered=False)),
        ] + [lookup(self.rng.choice(self.admitted)) for _ in range(lookups)]

    def warmup(self, env: Env) -> list[Op]:
        return self._reads(env, WARMUP_LOOKUPS)

    def rotation(self, env: Env):
        """One admission and its reads, or None once the corpus is
        exhausted. A generator: each read is built after the admission
        before it has run, so it sees that admission."""
        b = self.admissions  # batch 0 is the initial corpus
        if b >= len(self.batches):
            return None
        return self._rotation(env, b)

    def _rotation(self, env: Env, b: int):
        if b % REJECT_EVERY == 0:
            yield self._reject(env, b)
        yield self._admit(env, b)
        yield from self._reads(env)

    def gauges(self, env: Env) -> dict[str, float]:
        from tracing import parquet_files

        return {
            "snapshots.live_files": parquet_files(os.path.join(env.work, "warehouse")),
            "dedup_index.state_files": len(self.idx.state.current_files()),
            "user_bytes": self.user_bytes,
        }

    def finish(self, env: Env) -> None:
        """End-of-run invariants over everything admitted."""
        tally, n = env.tally, len(self.admitted)
        got = self.eng.sql("SELECT count(*), count(DISTINCT id), count(DISTINCT doc_id) "
                           "FROM docs").collect()[0]
        tally.record("final counts", None if tuple(got) == (n, n, n) else
                     f"count/ids/doc_ids {tuple(got)}, expected {n}")
        ranges = self.eng.sql(
            "SELECT s.batch, min(d.id), max(d.id), count(*) FROM docs d "
            "JOIN staging s ON d.doc_id = s.doc_id GROUP BY s.batch ORDER BY s.batch"
        ).collect()
        problem = None
        if [r[0] for r in ranges] != list(range(self.admissions)):
            problem = f"batches {[r[0] for r in ranges]}"
        for prev, cur in zip(ranges, ranges[1:]):
            if cur[1] <= prev[2]:
                problem = f"batch {cur[0]} ids start at {cur[1]} <= {prev[2]}"
        for r in ranges:
            if r[3] != len(self.batches[r[0]]):
                problem = f"batch {r[0]} holds {r[3]} rows"
        tally.record("ids increase in admission order", problem)
        full = {(r.doc_a, r.doc_b) for r in self.idx.candidate_pairs().collect()}
        tally.record("per-batch pairs == candidate_pairs()", None if full == self.pairs else
                     f"{len(self.pairs ^ full)} pairs differ")


WORKLOADS = {w.name: w for w in (PgSql, DfAnalytics, DocIngest)}

"""The benchmark's workloads.

Each workload is a seeded, closed-loop stream of operations, grouped in
passes. An operation is one registry query callable or one
``Engine.sql`` statement, collected to the driver. A *read* returns
rows; a *write* is one versioned-table commit (or maintenance statement)
or one bounded streaming drain. Every operation carries its own
correctness check, which the run loop calls outside the timed interval:
reads are compared with DuckDB running the registry's oracle SQL (or the
same statement) on the same files, and every ``ingest`` commit is
compared with a DuckDB replay of the same statements.

A pass always holds the same operations: the seed orders them (within
the fixed commit cycle of ``ingest``) and draws the SQL and DML
parameters, so runs with different seeds measure the same mix. The data are the repository's TPC-H-shaped test
tables, copied under ``data/``; they never depend on the seed.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import itertools
import os
import random
import urllib.parse
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator

from ballista_mvp_spark.oracle import _canon_rows
from ballista_mvp_spark.queries import ALL_ORACLES, ALL_QUERIES
from ballista_mvp_spark.sources import versioned as V

# Oracle-certified members of each LLM-pipeline family, the deterministic
# (_det) variant where the family has one: the vector kernels (LSH verify,
# brute-force top-k), MinHash dedup, text, graph (iterative eager jobs) and
# the pandas-UDF boundary. One member a family, plus a second vector
# kernel, keeps a run's cold warm-up pass inside its time budget.
LLM = [
    "sim_ann_lsh_det", "sim_topk", "dedup_minhash_det", "text_quality",
    "graph_pagerank", "udf_pandas_scalar",
]

# The streaming drain of the ingest round: a bounded micro-batch query
# with keyed state. One kind only, so that every round does the same work.
STREAM_DRAIN = "streaming_dedup"


# -- result canonicalization -------------------------------------------------
def _value(v):
    # compare Decimal values, not the scale a type system chose to print
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    return v


def canon(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Order-insensitive form of a result, as the oracle compares it:
    sorted lower-cased column names and sorted rows of rendered cells."""
    lower = [c.lower() for c in cols]
    return sorted(lower), _canon_rows(lower, [tuple(_value(v) for v in r) for r in rows])


# -- operations --------------------------------------------------------------
@dataclass
class Op:
    label: str
    kind: str  # "read" | "write"
    layer: str  # "queries" (registry callable) | "engine" (Engine.sql)
    build: Callable  # () -> DataFrame; the run loop collects it
    check: Callable  # (columns, rows) -> bool, called outside the timing


@dataclass
class Ctx:
    spark: object
    engine: object
    sf_dir: str
    duck: object
    rng: random.Random
    work_dir: str
    perturb: bool = False  # negative control: corrupt one expected result
    _expected: dict = field(default_factory=dict)

    def expected(self, key: str, sql: str, params: dict | None = None):
        """DuckDB's canonical result for ``sql``, computed once per key."""
        if key not in self._expected:
            rel = self.duck.execute(sql, params) if params else self.duck.execute(sql)
            exp = canon([d[0] for d in rel.description], rel.fetchall())
            if self.perturb:
                self.perturb = False
                exp = (exp[0], exp[1] + [tuple("perturbed" for _ in exp[0])])
            self._expected[key] = exp
        return self._expected[key]

    def registry_op(self, name: str, kind: str = "read") -> Op:
        fn, sql = ALL_QUERIES[name], ALL_ORACLES[name]
        return Op(
            name, kind, "queries",
            lambda: fn(self.spark, self.sf_dir),
            lambda cols, rows: canon(cols, rows) == self.expected(name, sql),
        )


class Workload:
    name = ""
    scale = 0.01

    def prepare(self, ctx: Ctx) -> Iterable[Op]:
        """Untimed operations run before the timed phase (a warm-up)."""
        return []

    def passes(self, ctx: Ctx) -> Iterator[Iterable[Op]]:
        raise NotImplementedError

    def layer_metrics(self, traced_ops: list[dict]) -> dict:
        return {}


class _Registry(Workload):
    """Warm repeats of a fixed list of registry queries: one untimed
    warm-up pass, then passes in a fresh seeded order each."""

    names: list[str] = []

    def prepare(self, ctx: Ctx) -> list[Op]:
        return [ctx.registry_op(n) for n in ctx.rng.sample(self.names, len(self.names))]

    def passes(self, ctx: Ctx) -> Iterator[Iterable[Op]]:
        while True:
            yield [ctx.registry_op(n) for n in ctx.rng.sample(self.names, len(self.names))]


class LlmPipeline(_Registry):
    name = "llm_pipeline"
    names = LLM


# -- ingest --------------------------------------------------------------------
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FINGERPRINT = (
    "SELECT count(*) AS n, sum(o_orderkey) AS keys, "
    "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents, "
    "sum(o_custkey) AS custs, sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_f, "
    "count(DISTINCT o_orderpriority) AS n_prio FROM orders_v"
)
RETAIN = 6  # versions VACUUM keeps; time travel and RESTORE stay inside them
VERBS = ["insert", "delete", "update", "merge", "optimize", "restore", "vacuum"]
# One round of the ingest loop: every verb, every read shape and the drain.
# The commits run in this fixed cycle, so the seed does not decide which
# of them run before OPTIMIZE compacts the table; the seed places the
# reads and the drain among them and draws every parameter.
WRITES = ["insert", "delete", "update", "merge", "optimize", "restore", "vacuum"]
OTHERS = ["read_version", "read_head", "read_qualify", "read_distinct_on", STREAM_DRAIN]


def _ts(day: int) -> str:
    d = datetime.date(1995, 1, 1) + datetime.timedelta(days=day)
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


class Ingest(Workload):
    """Versioned-table commits over ``orders`` through ``Engine.sql``
    (INSERT, DELETE, UPDATE, MERGE, OPTIMIZE, VACUUM, RESTORE), reads
    of current and earlier versions in the façade's dialect (time
    travel, QUALIFY, DISTINCT ON, named parameters), and a bounded
    ``streaming_dedup`` drain. A DuckDB table replays every statement:
    each commit's new head is compared with it, and each time-travel
    read with the replay's snapshot of that version."""

    name = "ingest"

    def prepare(self, ctx: Ctx) -> Iterable[Op]:
        self.ctx = ctx
        self.path = os.path.join(ctx.work_dir, "orders_v")
        orders = ctx.spark.read.parquet(os.path.join(ctx.sf_dir, "orders.parquet"))
        V.write_versioned(orders.repartitionByRange(8, "o_orderkey"), self.path, stats_cols=["o_orderkey"])
        ctx.engine.register_versioned("orders_v", self.path)
        d = ctx.duck
        d.execute("CREATE OR REPLACE TABLE orders_v AS SELECT * FROM orders")
        d.execute("CREATE OR REPLACE TABLE snap_1 AS SELECT * FROM orders_v")
        self.head = 1
        self.next_key, n_rows = d.execute("SELECT max(o_orderkey) + 1, count(*) FROM orders_v").fetchone()
        self.row_bytes = self._bytes(1) / n_rows
        self.commits: list[dict] = []  # per commit: verb, rows, bytes, rewritten, files
        self._serial = itertools.count()
        # warm-up: one INSERT, so that RESTORE has an earlier version to
        # go back to wherever the seed puts it, then one round
        return itertools.chain([self._op("insert")], self._round())

    # -- helpers ---------------------------------------------------------
    def _bytes(self, version: int) -> int:
        files = glob.glob(os.path.join(self.path, "data", f"commit-{version}-*", "*.parquet"))
        return sum(os.path.getsize(f) for f in files)

    def _row(self, key: int) -> str:
        rng = self.ctx.rng
        return (
            f"({key}, {rng.randrange(1500)}, '{rng.choice('FOP')}', "
            f"{rng.randrange(100000, 50000000) / 100:.2f}, {_ts(rng.randrange(2400))}, "
            f"'{rng.choice(PRIORITIES)}')"
        )

    def _window(self) -> list[int]:
        return list(range(max(1, self.head - RETAIN + 1), self.head + 1))

    def _head_matches(self) -> bool:
        """DuckDB's fingerprint of the files the engine plans to read for
        the head, against the replay's. Planning lists the files without
        running a job."""
        uris = self.ctx.engine.sql("SELECT * FROM orders_v").inputFiles()
        files = [urllib.parse.unquote(urllib.parse.urlparse(u).path) for u in uris]
        d = self.ctx.duck
        got = d.execute(FINGERPRINT.replace("FROM orders_v", "FROM read_parquet($files)"), {"files": files})
        return got.fetchall() == d.execute(FINGERPRINT).fetchall()

    def _dml(self, verb: str, sql: str, replay: Callable[[], int]) -> Op:
        """A DML statement whose check replays it in DuckDB, expects the
        version the engine reported, then compares the new head."""
        d = self.ctx.duck
        files_before = V.history(self.path)[-1]["n_files"]

        def check(cols, rows) -> bool:
            affected = replay()
            out = dict(zip(cols, rows[0]))
            if verb != "vacuum":
                # DELETE and UPDATE that match nothing commit nothing
                no_op = affected == 0 and verb in ("delete", "update")
                if out["version"] != self.head + (0 if no_op else 1):
                    return False
                if not no_op:
                    self.head += 1
                    d.execute(f"CREATE OR REPLACE TABLE snap_{self.head} AS SELECT * FROM orders_v")
                    if self.head > RETAIN:
                        d.execute(f"DROP TABLE snap_{self.head - RETAIN}")
                    self.commits.append({
                        "verb": verb, "rows": affected, "bytes": self._bytes(self.head),
                        "rewritten": out.get("files_rewritten", 0), "files": files_before,
                    })
            return self._head_matches()

        return Op(verb, "write", "engine", lambda: self.ctx.engine.sql(sql), check)

    def _read(self, label: str, sql: str, duck_sql: str, args: dict | None = None) -> Op:
        key = f"{label}{next(self._serial)}"
        duck_args = None
        if args:
            duck_args = args
            for k in args:
                duck_sql = duck_sql.replace(f":{k}", f"${k}")
        return Op(
            label, "read", "engine",
            lambda: self.ctx.engine.sql(sql, args=args),
            lambda cols, rows: canon(cols, rows) == self.ctx.expected(key, duck_sql, duck_args),
        )

    def _op(self, kind: str) -> Op:
        rng, d = self.ctx.rng, self.ctx.duck
        if kind == "insert":
            n = rng.randint(5, 40)
            values = ", ".join(self._row(self.next_key + i) for i in range(n))
            self.next_key += n
            sql = f"INSERT INTO orders_v VALUES {values}"
            return self._dml("insert", sql, lambda: (d.execute(sql), n)[1])
        if kind in ("delete", "update"):
            lo = rng.randrange(self.next_key)
            where = f"o_orderkey BETWEEN {lo} AND {lo + rng.randint(20, 300)}"
            if kind == "delete":
                sql = f"DELETE FROM orders_v WHERE {where} AND o_orderstatus = '{rng.choice('FOP')}'"
            else:
                sql = (
                    f"UPDATE orders_v SET o_totalprice = o_totalprice + {rng.choice([0.25, 0.5, 1.25, 2.75])}, "
                    f"o_orderpriority = '{rng.choice(PRIORITIES)}' WHERE {where}"
                )
            return self._dml(kind, sql, lambda: d.execute(sql).fetchone()[0])
        if kind == "merge":
            keys = rng.sample(range(self.next_key), rng.randint(3, 20))
            keys += range(self.next_key, self.next_key + rng.randint(1, 10))
            self.next_key = keys[-1] + 1
            values = ", ".join(self._row(k) for k in keys)
            src = (
                "SELECT CAST(k AS BIGINT) AS o_orderkey, CAST(c AS BIGINT) AS o_custkey, "
                "s AS o_orderstatus, CAST(p AS DOUBLE) AS o_totalprice, d AS o_orderdate, "
                f"r AS o_orderpriority FROM VALUES {values} AS t(k, c, s, p, d, r)"
            )
            sql = (
                f"MERGE INTO orders_v USING ({src}) ON o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )

            def replay() -> int:
                d.execute(f"DELETE FROM orders_v WHERE o_orderkey IN ({', '.join(map(str, keys))})")
                d.execute(f"INSERT INTO orders_v VALUES {values}")
                return len(keys)

            return self._dml("merge", sql, replay)
        if kind == "optimize":
            return self._dml(kind, "OPTIMIZE orders_v", lambda: 0)
        if kind == "vacuum":
            return self._dml(kind, f"VACUUM orders_v RETAIN {RETAIN} VERSIONS RETAIN 0 HOURS", lambda: 0)
        if kind == "restore":
            target = rng.choice(self._window()[:-1])

            def replay() -> int:
                d.execute(f"CREATE OR REPLACE TABLE orders_v AS SELECT * FROM snap_{target}")
                return 0

            return self._dml(kind, f"RESTORE TABLE orders_v TO VERSION AS OF {target}", replay)
        if kind == "read_version":
            v = rng.choice(self._window())
            q = (
                "SELECT o_orderstatus, count(*) AS n, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents, "
                f"max(o_orderkey) AS max_key FROM {{t}} WHERE o_orderpriority = '{rng.choice(PRIORITIES)}' "
                "GROUP BY o_orderstatus"
            )
            return self._read(kind, q.format(t=f"orders_v VERSION AS OF {v}"), q.format(t=f"snap_{v}"))
        if kind == "read_head":
            lo = rng.randrange(self.next_key)
            q = (
                "SELECT o_orderpriority, count(*) AS n, min(o_orderdate) AS first_day, "
                "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents FROM orders_v "
                f"WHERE o_orderkey BETWEEN {lo} AND {lo + rng.randint(500, 5000)} GROUP BY o_orderpriority"
            )
            return self._read(kind, q, q)
        if kind == "read_qualify":
            v = rng.choice(self._window())
            lo = rng.randrange(self.next_key)
            q = (
                "SELECT o_custkey, o_orderkey, o_totalprice FROM {t} "
                f"WHERE o_orderstatus = :st AND o_orderkey BETWEEN {lo} AND {lo + rng.randint(500, 3000)} "
                "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1"
            )
            return self._read(kind, q.format(t=f"orders_v VERSION AS OF {v}"), q.format(t=f"snap_{v}"),
                              {"st": rng.choice("FOP")})
        if kind == "read_distinct_on":
            q = (
                "SELECT DISTINCT ON (o_orderpriority) o_orderpriority, o_orderkey, o_totalprice "
                "FROM orders_v WHERE o_custkey < :c ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey"
            )
            return self._read(kind, q, q, {"c": rng.randint(10, 1500)})
        return self.ctx.registry_op(kind, "write")  # a streaming_* drain

    def _round(self) -> Iterator[Op]:
        # ops are made as the loop reaches them: parameters depend on the
        # table state the previous commits left
        rng, n = self.ctx.rng, len(WRITES) + len(OTHERS)
        slots = set(rng.sample(range(n), len(OTHERS)))
        writes, others = iter(WRITES), iter(rng.sample(OTHERS, len(OTHERS)))
        for i in range(n):
            yield self._op(next(others) if i in slots else next(writes))

    def passes(self, ctx: Ctx) -> Iterator[Iterable[Op]]:
        while True:
            yield self._round()

    def layer_metrics(self, traced_ops: list[dict]) -> dict:
        out = {}
        for verb in VERBS:
            ts = [o["op_s"] for o in traced_ops if o["label"] == verb]
            out[f"versioned.commit_s.{verb}"] = sum(ts) / len(ts) if ts else 0.0
        dml = [c for c in self.commits if c["verb"] in ("insert", "delete", "update", "merge")]
        user = sum(c["rows"] for c in dml) * self.row_bytes
        out["versioned.bytes_written_per_user_byte"] = sum(c["bytes"] for c in dml) / user if user else 0.0
        rw = [c for c in self.commits if c["verb"] in ("delete", "update", "merge")]
        out["versioned.files_rewritten"] = sum(c["rewritten"] for c in rw) / len(rw) if rw else 0.0
        pr = [c for c in rw if c["verb"] != "merge" and c["files"]]
        out["versioned.files_skipped_ratio"] = (
            sum(1 - c["rewritten"] / c["files"] for c in pr) / len(pr) if pr else 0.0
        )
        return out


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (LlmPipeline, Ingest)}

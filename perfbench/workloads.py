"""The workloads: analytics, iterative and publish.

Each runs in one driver process as a closed loop: one client issues an
operation, waits for it to finish, then issues the next. A workload
has a warm-up (the same operations on tiny input from the same seed,
part of set-up), a timed pass (repeated for the run's seconds) and a
check of every output of every pass.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass

import numpy as np

from inputs import duck, fingerprint, mismatch, oracle_fingerprints

# Measured input and warm-up input. At these sizes a pass of each
# workload takes about 10 s on 4 cores, which keeps the driver's runs
# of the benchmark inside its time budget.
SF = 0.01
TINY_SF = 0.001

ITERATIVE = [
    "graph_bfs_reachability",
    "graph_components_star",
    "d10_quality_survivors",
    "pipe_training_prep_v3",
]

PYTHON_EVAL = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow|"
    r"AggregateInPandas|WindowInPandas)\b"
)


@dataclass
class Op:
    kind: str
    name: str
    secs: float
    problem: str | None = None


class Ctx:
    """What a workload needs from the run: the session, the optional
    tracer, directories, and per-pass counters for traced mode."""

    def __init__(self, spark, tracer, work: str, data_dir: str, tiny_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.data_dir = data_dir
        self.tiny_dir = tiny_dir
        self.seed = seed
        self.counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.set_run("setup")

    def set_run(self, label: str) -> None:
        """Label what follows: "setup", "pass<N>" or "check"."""
        self.run = label
        if self.tracer is not None:
            self.tracer.run = label

    def span(self, layer: str, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name, **attrs)

    def group(self, op: str, phase: str) -> None:
        """Tag the Spark jobs that follow, so the event log attributes
        them to this pass, operation and phase (build or exec)."""
        if self.tracer is not None:
            gid = f"{self.run}|{op}|{phase}"
            self.spark.sparkContext.setJobGroup(gid, gid)

    def count(self, metric: str, n: float) -> None:
        self.counters[self.run][metric] += n

    def high(self, metric: str, n: float) -> None:
        c = self.counters[self.run]
        c[metric] = max(c[metric], n)

    def collect(self, df, query: str | None = None) -> list:
        """Execute ``df`` and return its rows. Traced, it first forces
        the optimized and the physical plan, which the collect reuses,
        so plan and exec time split cleanly."""
        attrs = {"query": query} if query else {}
        if self.tracer is not None:
            qe = df._jdf.queryExecution()
            with self.span("plan", "analyze", **attrs):
                qe.optimizedPlan()
            with self.span("plan", "physical", **attrs):
                plan = qe.executedPlan().toString()
            self.count("plan.python_eval_nodes", len(PYTHON_EVAL.findall(plan)))
        with self.span("exec", "collect", **attrs):
            return df.collect()

    def timed(self, ops: list[Op], kind: str, name: str, fn):
        """Run one operation, append its latency to ``ops``; an exception
        becomes the op's problem and the run goes on."""
        t0 = time.perf_counter()
        result = problem = None
        try:
            with self.span("bench", kind, op=name):
                self.group(name, "exec")
                result = fn()
        except Exception as exc:  # counted in failed_frac, never fatal
            problem = f"raised {type(exc).__name__}: {str(exc)[:300]}"
        ops.append(Op(kind, name, time.perf_counter() - t0, problem))
        return result


def _ledger_size() -> int:
    from hi_csa_db_spark.operators import _cache_ledger

    return len(_cache_ledger._LEDGER)


def registry() -> tuple[dict, dict]:
    """(name -> query builder, name -> DuckDB twin SQL). Reads the
    registry's dicts: the public ``queries()`` and ``oracle_sql()`` also
    compute the registry's exposure order, about 9 s of source hashing
    per process on 4 cores that no workload uses."""
    from hi_csa_db_spark import queries as qcat

    return qcat._QUERIES, qcat._ORACLES


class Queries:
    """Registered queries, each built and collected once per pass."""

    def __init__(self, name: str, names: list[str]):
        self.name = name
        self.names = names

    def prepare(self, ctx: Ctx, tables: dict[str, tuple[int, int]]) -> None:
        self.qs, sqls = registry()
        con = duck(ctx.data_dir, os.path.join(ctx.work, "duckdb"))
        self.expected = oracle_fingerprints(con, {n: sqls[n] for n in self.names})
        self.rows_per_pass = sum(rows for rows, _ in tables.values())

    def _query(self, ctx: Ctx, name: str, data_dir: str, ops: list[Op]):
        spark = ctx.spark
        t0 = time.perf_counter()
        cols = rows = problem = None
        try:
            with ctx.span("queries", "build", query=name):
                ctx.group(name, "build")
                df = self.qs[name](spark, data_dir)
            ctx.group(name, "exec")
            rows = ctx.collect(df, name)
            cols = df.columns
        except Exception as exc:  # counted in failed_frac, never fatal
            problem = f"raised {type(exc).__name__}: {str(exc)[:300]}"
        ops.append(Op("query", name, time.perf_counter() - t0, problem))
        ctx.high("operators.cache.live", _ledger_size())
        return ops[-1], cols, rows

    def run(self, ctx: Ctx, data_dir: str, ops: list[Op]) -> list:
        return [self._query(ctx, n, data_dir, ops) for n in self.names]

    def warmup(self, ctx: Ctx) -> None:
        self.run(ctx, ctx.tiny_dir, [])

    def pass_(self, ctx: Ctx, ops: list[Op]):
        return self.run(ctx, ctx.data_dir, ops)

    def check(self, ctx: Ctx, outputs, tally) -> None:
        for op, cols, rows in outputs:
            problem = op.problem or mismatch(self.expected[op.name], fingerprint(cols, rows))
            tally.record(op.name, problem)

    def extra_metrics(self, ctx: Ctx, outputs) -> dict[str, float]:
        return {}


ORDERS_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
ORDERS_DDL = "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderstatus VARCHAR"


def dir_bytes(path: str) -> int:
    """Bytes of everything under ``path``."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, names in os.walk(path)
        for f in names
    )


class Written:
    """What the commits to one transaction-log table wrote: each new
    manifest's op, the manifest and the data files it adds, sized right
    after the call that committed it, so a file or manifest that a later
    vacuum removes still counts as written."""

    def __init__(self, path: str):
        self.path = path
        self.ops: list[str] = []
        self.known: set[str] = set()
        self.bytes = 0

    def update(self) -> None:
        from hi_csa_db_spark.sources import txlog

        v = txlog.current_version(self.path)
        for i in range(len(self.ops), -1 if v is None else v + 1):
            self.bytes += os.path.getsize(os.path.join(txlog._log_dir(self.path), f"v{i}.json"))
            manifest = txlog._manifest(self.path, i)
            self.ops.append(manifest.get("op"))
            for f in manifest["files"]:
                if f not in self.known:
                    self.known.add(f)
                    self.bytes += os.path.getsize(os.path.join(self.path, f))


def table_stats(path: str, written: Written) -> dict[str, int]:
    """Files and bytes of one transaction-log table: written by its
    commits, on disk now, and live in its latest manifest."""
    from hi_csa_db_spark.sources import txlog

    v = txlog.current_version(path)
    live = txlog._manifest(path, v)["files"] if v is not None else []
    return {
        "bytes_written": written.bytes,
        "files_written": len(written.known),
        "bytes_on_disk": dir_bytes(path),
        "live_bytes": sum(os.path.getsize(os.path.join(path, f)) for f in live),
        "live_files": len(live),
        "commits": len(written.ops),
        "stream_appends": written.ops.count("stream-append"),
    }


class Publish:
    """The paper's last step (publish the flagship table) plus the
    write path of the transaction-log table format."""

    name = "publish"
    BATCHES = 10
    MERGES = 3

    def _plan(self, data_dir: str) -> dict:
        """Slices and upserts for one input, derived from the seed."""
        import pyarrow.parquet as pq

        n = pq.ParquetFile(os.path.join(data_dir, "orders.parquet")).metadata.num_rows
        n0 = int(n * 0.4)
        step = (n - n0) // self.BATCHES
        end = n0 + step * self.BATCHES
        rng = np.random.default_rng(self._seed)
        updates = []
        for u in range(self.MERGES):
            old = rng.choice(end, size=min(50, end), replace=False)
            keys = [int(k) for k in old] + [end + 20 * u + i for i in range(20)]
            updates.append(
                [
                    (k, int(c), round(float(p), 2), "U")
                    for k, c, p in zip(
                        keys,
                        rng.integers(0, 1000, len(keys)),
                        rng.uniform(1000.0, 500000.0, len(keys)),
                    )
                ]
            )
        return {"n0": n0, "step": step, "updates": updates}

    def prepare(self, ctx: Ctx, tables) -> None:
        """The independent DuckDB model of the same commits."""
        from check_oracle import canon

        self._seed = ctx.seed
        self.plan = self._plan(ctx.data_dir)
        self.tiny_plan = self._plan(ctx.tiny_dir)
        p = self.plan
        con = duck(ctx.data_dir, os.path.join(ctx.work, "duckdb"))
        cols = ", ".join(ORDERS_COLS)
        con.execute(
            f"CREATE TABLE model AS SELECT {cols} FROM orders WHERE o_orderkey < {p['n0']}"
        )

        def snapshot() -> tuple:
            n, s = con.execute(
                "SELECT count(*), sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM model"
            ).fetchone()
            return (canon(n), canon(s))

        self.version_rows = [snapshot()[0]]
        self.reads = []
        for b in range(self.BATCHES):
            lo = p["n0"] + b * p["step"]
            con.execute(
                f"INSERT INTO model SELECT {cols} FROM orders "
                f"WHERE o_orderkey >= {lo} AND o_orderkey < {lo + p['step']}"
            )
            self.reads.append(snapshot())
            self.version_rows.append(self.reads[-1][0])
        for rows in p["updates"]:
            con.execute(f"CREATE OR REPLACE TEMP TABLE upd ({ORDERS_DDL})")
            con.executemany("INSERT INTO upd VALUES (?, ?, ?, ?)", rows)
            con.execute("DELETE FROM model WHERE o_orderkey IN (SELECT o_orderkey FROM upd)")
            con.execute("INSERT INTO model SELECT * FROM upd")
            self.version_rows.append(snapshot()[0])
        self.version_rows.append(self.version_rows[-1])  # compaction
        rel = con.sql(f"SELECT {cols} FROM model")
        self.final = fingerprint(rel.columns, rel.fetchall())
        rel = con.sql(
            "SELECT event_id, user_id, event_type, round(value, 6) AS value FROM events"
        )
        self.stream = fingerprint(rel.columns, rel.fetchall())
        self.rows_per_pass = (
            p["n0"]
            + p["step"] * self.BATCHES
            + sum(len(u) for u in p["updates"])
            + tables["events"][0]
        )
        self._flagship = None

    def run(self, ctx: Ctx, data_dir: str, plan: dict, out: str, ops: list[Op]) -> dict:
        from pyspark.sql import functions as F

        from hi_csa_db_spark import catalog
        from hi_csa_db_spark.flagship import flagship_query
        from hi_csa_db_spark.sources import txlog
        from hi_csa_db_spark.streaming import acid_sink

        spark = ctx.spark
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        paths = {
            k: os.path.join(out, k) for k in ("published", "table", "stream", "checkpoint")
        }
        obs = ctx.timed(
            ops,
            "publish",
            "publish",
            lambda: catalog.publish(
                flagship_query(spark, data_dir),
                paths["published"],
                partition_by=["type"],
                observe=True,
            ),
        )
        orders = spark.read.parquet(os.path.join(data_dir, "orders.parquet")).select(*ORDERS_COLS)
        key = F.col("o_orderkey")
        tbl = paths["table"]
        written = {"table": Written(tbl), "stream": Written(paths["stream"])}

        def commit(name: str, fn) -> None:
            ctx.timed(ops, "commit", name, fn)
            written["table"].update()

        commit("write_table", lambda: txlog.write_table(orders.filter(key < plan["n0"]), tbl))
        def snapshot():
            df = txlog.read_table(spark, tbl).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
            )
            return ctx.collect(df)[0]

        reads = []
        for b in range(self.BATCHES):
            lo = plan["n0"] + b * plan["step"]
            batch = orders.filter((key >= lo) & (key < lo + plan["step"]))
            commit("append_batch", lambda: txlog.append_batch(batch, tbl, b))
            reads.append(ctx.timed(ops, "read", "snapshot_read", snapshot))
        for rows in plan["updates"]:
            upd = spark.createDataFrame(rows, ", ".join(
                f"{c} {t}" for c, t in zip(ORDERS_COLS, ("long", "long", "double", "string"))
            ))
            commit("merge_table", lambda: txlog.merge_table(spark, tbl, upd, "o_orderkey"))
        commit("compact_table", lambda: txlog.compact_table(spark, tbl))

        def stream():
            acid_sink.stream_append_to_table(
                spark, data_dir, paths["stream"], paths["checkpoint"], compact_every=1
            )
            return txlog.current_version(paths["stream"])

        first = ctx.timed(ops, "stream", "stream_append", stream)
        written["stream"].update()
        again = ctx.timed(ops, "stream", "stream_rerun", stream)
        written["stream"].update()
        ctx.high("operators.cache.live", _ledger_size())
        return {
            "obs": obs,
            "reads": reads,
            "stream_versions": (first, again),
            "paths": paths,
            "written": written,
        }

    def warmup(self, ctx: Ctx) -> None:
        self.run(ctx, ctx.tiny_dir, self.tiny_plan, os.path.join(ctx.work, "warmup"), [])

    def pass_(self, ctx: Ctx, ops: list[Op]):
        out = os.path.join(ctx.work, ctx.run)
        state = self.run(ctx, ctx.data_dir, self.plan, out, ops)
        state["ops"] = list(ops)
        return state

    def check(self, ctx: Ctx, state: dict, tally) -> None:
        """One record per operation of the pass: its own exception if it
        raised, else the check that covers what it committed or read."""
        from check_oracle import canon
        from pyspark.sql import functions as F

        from hi_csa_db_spark.flagship import flagship_query
        from hi_csa_db_spark.sources import txlog

        spark = ctx.spark
        paths = state["paths"]
        ctx.group("check", "exec")

        def published() -> str | None:
            if self._flagship is None:
                df = flagship_query(spark, ctx.data_dir)
                self._flagship = fingerprint(df.columns, df.collect())
            back = spark.read.parquet(paths["published"])
            got = fingerprint(back.columns, back.collect())
            if state["obs"]["n_rows"] != got["rows"]:
                return f"observed {state['obs']['n_rows']} rows, read back {got['rows']}"
            return mismatch(self._flagship, got)

        # every committed version, each read by a fresh read_table,
        # counted in one job
        last = len(self.version_rows) - 1
        counts: dict[int, int] = {}
        unreadable = None
        try:
            if txlog.current_version(paths["table"]) == last:
                union = None
                for v in range(last + 1):
                    df = txlog.read_table(spark, paths["table"], v).select(F.lit(v).alias("v"))
                    union = df if union is None else union.unionAll(df)
                counts = {r["v"]: r["count"] for r in union.groupBy("v").count().collect()}
        except Exception as exc:  # fails every commit op below, never the run
            unreadable = f"versions unreadable: {type(exc).__name__}: {str(exc)[:300]}"

        def version(v: int) -> str | None:
            if unreadable is not None:
                return unreadable
            n = counts.get(v, 0)
            if canon(n) != self.version_rows[v]:
                return f"version {v}: {n} rows, model has {self.version_rows[v]}"
            if v == last:
                df = txlog.read_table(spark, paths["table"])
                return mismatch(self.final, fingerprint(df.columns, df.collect()))
            return None

        def read(i: int) -> str | None:
            r = state["reads"][i]
            got = (canon(r["n"]), canon(r["s"]))
            return None if got == self.reads[i] else f"read {i}: {got} != model {self.reads[i]}"

        def streamed() -> str | None:
            df = txlog.read_table(spark, paths["stream"])
            return mismatch(self.stream, fingerprint(df.columns, df.collect()))

        def rerun() -> str | None:
            first, again = state["stream_versions"]
            return None if first == again else f"re-run committed: v{first} -> v{again}"

        commit_no = 0
        read_no = 0
        for op in state["ops"]:
            problem = op.problem
            if problem is None:
                try:
                    if op.kind == "publish":
                        problem = published()
                    elif op.kind == "commit":
                        problem = version(commit_no)
                    elif op.kind == "read":
                        problem = read(read_no)
                    elif op.name == "stream_append":
                        problem = streamed()
                    else:
                        problem = rerun()
                except Exception as exc:  # a check that cannot run fails its op
                    problem = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
            commit_no += op.kind == "commit"
            read_no += op.kind == "read"
            tally.record(op.name, problem)

    def extra_metrics(self, ctx: Ctx, state: dict) -> dict[str, float]:
        """Amplification and storage counters of the pass's tables."""
        paths = state["paths"]
        tabs = [table_stats(paths[k], state["written"][k]) for k in ("table", "stream")]
        tot = {k: sum(t[k] for t in tabs) for k in tabs[0]}
        pub_bytes = dir_bytes(paths["published"])
        shutil.rmtree(os.path.dirname(paths["table"]), ignore_errors=True)
        return {
            "write_amp": tot["bytes_written"] / tot["live_bytes"],
            "space_amp": tot["bytes_on_disk"] / tot["live_bytes"],
            "sources.txlog.commits": tot["commits"],
            "sources.txlog.files_written": tot["files_written"],
            "sources.txlog.mb_written": tot["bytes_written"] / 1e6,
            "sources.txlog.live_files": tot["live_files"],
            "catalog.publish_mb": pub_bytes / 1e6,
            "stream_appends": tabs[1]["stream_appends"],
        }


def analytics() -> Queries:
    import bench

    return Queries("analytics", bench.HEADLINE)


WORKLOADS = {
    "analytics": analytics,
    "iterative": lambda: Queries("iterative", ITERATIVE),
    "publish": Publish,
}

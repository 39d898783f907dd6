"""The benchmark's two workloads. Each builds its fixture, keeps the
expected state it checks results against, and yields an endless seeded
stream of operations for the closed loop in ``run.py``. Both read the
tables ``datagen.py`` writes once per run.

- ``headline_olap``: the 13 headline queries over the generated parquet;
  results digested against their DuckDB oracle.
- ``lake_ingest``: a change-data-capture loop of commits, an availableNow
  changelog consumer, fresh reads and a file-index point lookup over lake
  tables built from the generated lineitem; DuckDB replays the same seeded
  batches and every read is compared against it.

See README.md in this directory for sizes, loop types and caches.
"""

from __future__ import annotations

import importlib.util
import itertools
import os
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import TABLES
from harness import Op

ROOT = Path(__file__).resolve().parent.parent
PK = ["l_orderkey", "l_linenumber"]


def _load_check():
    """The repository's oracle normalization (``tools/check.py``)."""
    spec = importlib.util.spec_from_file_location("_perfbench_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def lake_lineitem(data: str, dst: str) -> pa.Table:
    """The lake workloads' rows: the lines of the even-numbered orders of
    the generated lineitem (see README.md for the size), first row per
    (l_orderkey, l_linenumber), since the generated table repeats keys and
    a primary-key table holds each once."""
    t = pq.read_table(os.path.join(data, "lineitem.parquet"))
    ok = t.column("l_orderkey").to_numpy()
    _, first = np.unique(ok * 8 + t.column("l_linenumber").to_numpy(), return_index=True)
    first = np.sort(first)
    t = t.take(pa.array(first[ok[first] % 2 == 0]))
    pq.write_table(t, dst)
    return t


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = n = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
                n += 1
            except OSError:
                pass
    return total, n


class Workload:
    """Interface the runner drives. ``build`` makes the fixture in a fresh
    directory (timed as set-up, repeatable); ``prepare`` computes expected
    results (benchmark-side, untimed); ``warm_ops`` run once before the
    timed loop; ``passes`` yields lists of operations forever."""

    name = ""
    primary = "query"  # the kind the ``op_*`` metrics count
    builds = 1  # fixture builds per run; set-up reports their median
    min_passes = 2  # the loop runs at least this many passes

    def __init__(self, spark, seed: int, tracer, data: str):
        self.spark, self.seed, self.tracer, self.data = spark, seed, tracer, data
        self.rng = np.random.default_rng(seed)

    def build(self, d: Path) -> None:
        raise NotImplementedError

    def prepare(self, d: Path) -> None:
        pass

    def warm_ops(self) -> list[Op]:
        return []

    def passes(self):
        raise NotImplementedError

    def inputs(self) -> dict:
        return {}

    def close(self) -> None:
        pass


# ====================================================================
class HeadlineOlap(Workload):
    name = "headline_olap"
    builds = 0  # the fixture is the generated parquet itself
    min_passes = 3

    def __init__(self, spark, seed, tracer, data):
        super().__init__(spark, seed, tracer, data)
        import bench
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.names = [n for n in bench.HEADLINE if n in self.queries]
        self.check = _load_check()
        self.expected: dict[str, str] = {}

    def prepare(self, d: Path) -> None:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        for n in self.names:
            if n in self.oracles:
                res = con.execute(self.oracles[n])
                cols = [c[0] for c in res.description]
                self.expected[n] = self.check.digest(cols, res.fetchall())
        con.close()

    def _op(self, name: str) -> Op:
        fn, tr = self.queries[name], self.tracer

        def run():
            with tr.span("operators.build"):
                df = fn(self.spark, self.data)
            if tr.enabled:
                with tr.span("operators.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("operators.exec"):
                rows = df.collect()
            return df, rows

        def check(res):
            df, rows = res
            got = self.check.digest(df.columns, [tuple(r) for r in rows])
            # a query without an oracle must reproduce its first result
            return self.expected.setdefault(name, got) == got

        return Op(name, "query", run, check, plan_df=lambda res: res[0])

    def warm_ops(self) -> list[Op]:
        return [self._op(n) for n in self.names]

    def passes(self):
        while True:
            order = list(self.names)
            self.rng.shuffle(order)
            yield [self._op(n) for n in order]

    def inputs(self) -> dict:
        return {"queries": len(self.names),
                "oracle_checked": sum(n in self.oracles for n in self.names)}


# ====================================================================
def _agg(df):
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("l_orderkey").alias("k"),
        F.sum("l_quantity").alias("q"),
    )


def _row3(r) -> tuple:
    return (int(r[0]), int(r[1] or 0), float(r[2] or 0.0))


_DUCK_AGG = "count(*), coalesce(sum(l_orderkey), 0), coalesce(sum(l_quantity), 0)"


# ====================================================================
class LakeIngest(Workload):
    """CDC loop: seeded upsert/delete batches into a PK table and a
    deletion-vector table, a MERGE, an availableNow consumer draining the
    PK table's changelog into a sink, a fresh read after every upsert, a
    point lookup through the sink's bloom file index, and compaction plus
    snapshot expiry on both tables ending every cycle."""

    name = "lake_ingest"
    primary = "commit"
    builds = 3
    UPSERT_ROWS = 200
    DELETE_ORDERS = 20
    MERGE_ROWS = 200
    KEEP_SNAPSHOTS = 3

    def build(self, d: Path) -> None:
        from incubator_paimon_trino_spark.catalog import WarehouseCatalog

        self.dir = d
        self.li_path = str(d / "li.parquet")
        t = lake_lineitem(self.data, self.li_path)
        self.schema = t.schema
        self.n_rows = t.num_rows
        self.next_order = int(t.column("l_orderkey").to_numpy().max()) + 1
        li = self.spark.read.parquet(self.li_path)
        cols = [(f.name, f.dataType.simpleString()) for f in li.schema.fields]
        cat = self.cat = WarehouseCatalog(str(d / "wh"), self.spark)
        cat.create_database("b")
        cat.create_table("b", "src", cols, primary_key=PK)
        cat.create_table(
            "b", "dvt", cols, primary_key=PK, options={"deletion-vectors.enabled": "true"}
        )
        cat.create_table(
            "b", "sink", cols, primary_key=PK,
            options={
                "file-index.bloom-filter.columns": "l_orderkey",
                "file-index.bloom-filter.items": "20000",
            },
        )
        cat.insert_into("b", "src", li)
        cat.insert_into("b", "dvt", li)
        (d / "batches").mkdir()

    def prepare(self, d: Path) -> None:
        self.con = duckdb.connect()
        for t in ("src", "dvt", "sink"):
            self.con.execute(f"CREATE TABLE e_{t} AS SELECT * FROM '{self.li_path}'")
        self.con.execute("DELETE FROM e_sink")
        self.cycle = 0
        self.batch_no = itertools.count()
        self.io: dict[str, list[tuple[int, int]]] = {}
        self.drains: list[dict] = []
        self.compact_bytes: list[int] = []

    # ------------------------------------------------------------ batches
    def _batch(self, table: str, n_existing: int, n_new: int) -> str:
        """Seeded upsert batch: updates of live keys plus new keys. Written
        as parquet (untimed); DuckDB applies it to the expected state when
        the commit succeeds."""
        rng = self.rng
        keys = self.con.execute(
            f"SELECT l_orderkey, l_linenumber FROM e_{table} ORDER BY 1, 2"
        ).fetchnumpy()
        pick = rng.choice(len(keys["l_orderkey"]), n_existing, replace=False)
        ok = np.concatenate([
            keys["l_orderkey"][pick],
            np.arange(self.next_order, self.next_order + n_new, dtype=np.int64),
        ])
        ln = np.concatenate([
            keys["l_linenumber"][pick], rng.integers(1, 8, n_new).astype(np.int32)
        ])
        self.next_order += n_new
        n = len(ok)
        days = rng.integers(0, 2500, n)
        t = pa.table(
            {
                "l_orderkey": ok.astype(np.int64),
                "l_partkey": rng.integers(0, 2000, n, dtype=np.int64),
                "l_suppkey": rng.integers(0, 100, n, dtype=np.int64),
                "l_linenumber": ln.astype(np.int32),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
                "l_shipdate": pa.array(
                    np.datetime64("1995-01-02", "us") + days * np.timedelta64(86_400_000_000, "us")
                ),
            },
            schema=self.schema,
        )
        path = str(self.dir / "batches" / f"b{next(self.batch_no)}.parquet")
        pq.write_table(t, path)
        return path

    def _apply_upsert(self, table: str, path: str) -> None:
        self.con.execute(
            f"DELETE FROM e_{table} e USING '{path}' b "
            "WHERE e.l_orderkey = b.l_orderkey AND e.l_linenumber = b.l_linenumber"
        )
        self.con.execute(f"INSERT INTO e_{table} SELECT * FROM '{path}'")

    def _delete_keys(self, table: str) -> list[int]:
        orders = self.con.execute(
            f"SELECT DISTINCT l_orderkey FROM e_{table} ORDER BY 1"
        ).fetchnumpy()["l_orderkey"]
        return sorted(int(k) for k in self.rng.choice(orders, self.DELETE_ORDERS, replace=False))

    # -------------------------------------------------------------- ops
    def _tdir(self, table: str) -> str:
        return str(self.dir / "wh" / "b.db" / table)

    def _commit(self, kind: str, table: str, fn, on_ok, pre=None) -> Op:
        """A commit op; ``check`` applies its effect to the expected state
        and records the bytes and files it added to the table directory."""
        tdir = self._tdir(table)
        before = [(0, 0)]

        def prepare():
            before[0] = tree_bytes(tdir)
            if pre is not None:
                pre()

        def check(_):
            on_ok()
            after = tree_bytes(tdir)
            written = max(0, after[0] - before[0][0])
            self.io.setdefault(kind, []).append((written, after[1] - before[0][1]))
            if kind == "compact":
                self.compact_bytes.append(written)
            return True

        return Op(kind, "commit", fn, check, pre=prepare)

    def _read(self, name: str, table: str, expect: str) -> Op:
        def run():
            df = _agg(self.cat.read_table(f"b.{table}"))
            return df, df.collect()

        def check(res):
            want = _row3(self.con.execute(f"SELECT {_DUCK_AGG} FROM e_{expect}").fetchone())
            return _row3(res[1][0]) == want

        return Op(name, "read", run, check, plan_df=lambda res: res[0])

    def _lookup(self) -> Op:
        """A read of one order of the sink, drawn from its live rows when
        the op runs: min/max pruning, then the bloom index."""
        from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

        key = [0]

        def pick():
            keys = self.con.execute(
                "SELECT DISTINCT l_orderkey FROM e_sink ORDER BY 1"
            ).fetchnumpy()["l_orderkey"]
            key[0] = int(self.rng.choice(keys))

        def run():
            df = _agg(self.cat.read_table(
                "b.sink", predicate=[ColumnDomain("l_orderkey", op="=", value=key[0])]
            ))
            return df, df.collect()

        def check(res):
            want = _row3(self.con.execute(
                f"SELECT {_DUCK_AGG} FROM e_sink WHERE l_orderkey = {key[0]}"
            ).fetchone())
            return _row3(res[1][0]) == want

        return Op("lookup_sink", "read", run, check, plan_df=lambda res: res[0], pre=pick)

    def _drain(self) -> Op:
        from incubator_paimon_trino_spark.streaming.changelog import (
            read_changelog_stream,
            write_stream_to_table,
        )

        tr = self.tracer

        def run():
            stream = read_changelog_stream(self.cat, "b.src", consumer_id="bench")
            q = write_stream_to_table(
                stream, self.cat, "b", "sink", str(self.dir / "ckpt"),
                query_name="perfbench_drain", source=("b", "src"),
                consumer_id="bench", fold_pk=True,
            )
            tr.add_group(str(q.runId))
            return q

        def check(q):
            from tracing import stream_progress

            if tr.enabled:
                tr.note(**stream_progress(q))
            self.con.execute("DELETE FROM e_sink")
            self.con.execute("INSERT INTO e_sink SELECT * FROM e_src")
            return q.exception() is None

        return Op("drain", "drain", run, check)

    def _cycle(self) -> list[Op]:
        from pyspark.sql import functions as F

        cat, spark = self.cat, self.spark
        up = self._batch("src", self.UPSERT_ROWS * 3 // 4, self.UPSERT_ROWS // 4)
        dv_up = self._batch("dvt", self.UPSERT_ROWS * 3 // 4, self.UPSERT_ROWS // 4)
        mg = self._batch("src", self.MERGE_ROWS // 2, self.MERGE_ROWS // 2)
        ops: list[Op] = []

        def deleter(kind, table):
            # the keys are drawn when the op runs, from the live state then
            keys: list[int] = []

            def pick():
                keys[:] = self._delete_keys(table)

            def on_ok():
                self.con.execute(
                    f"DELETE FROM e_{table} WHERE l_orderkey IN ({','.join(map(str, keys))})"
                )

            return self._commit(
                kind, table,
                lambda: cat.delete_where("b", table, F.col("l_orderkey").isin(keys)),
                on_ok, pre=pick,
            )

        # each upsert and the merge is followed by a fresh read of its table
        ops.append(self._commit(
            "pk_upsert", "src", lambda: cat.insert_into("b", "src", spark.read.parquet(up)),
            lambda: self._apply_upsert("src", up)))
        ops.append(self._read("read_src", "src", "src"))
        ops.append(deleter("pk_delete", "src"))
        ops.append(self._commit(
            "dv_upsert", "dvt", lambda: cat.insert_into("b", "dvt", spark.read.parquet(dv_up)),
            lambda: self._apply_upsert("dvt", dv_up)))
        ops.append(self._read("read_dvt", "dvt", "dvt"))
        ops.append(deleter("dv_delete", "dvt"))
        ops.append(self._commit(
            "merge", "src",
            lambda: cat.merge_into("b", "src", spark.read.parquet(mg), on=PK),
            lambda: self._apply_upsert("src", mg)))
        ops.append(self._read("read_src", "src", "src"))
        ops.append(self._drain())
        ops.append(self._read("read_sink", "sink", "sink"))
        ops.append(self._lookup())
        for t in ("src", "dvt"):
            ops.append(self._commit("compact", t, lambda t=t: cat.compact("b", t), lambda: None))
        for t in ("src", "dvt"):
            ops.append(self._commit(
                "expire", t,
                lambda t=t: cat.expire_snapshots("b", t, keep_last=self.KEEP_SNAPSHOTS),
                lambda: None))
        self.cycle += 1
        return ops

    def warm_ops(self) -> list[Op]:
        # the first drain bootstraps the consumer over the base commit
        return [self._drain(), self._read("read_sink", "sink", "sink")]

    def passes(self):
        while True:
            yield self._cycle()

    def stored_ratio(self) -> float:
        """Warehouse bytes on disk over the live rows of every table written
        once as plain parquet."""
        wh = tree_bytes(str(self.dir / "wh"))[0]
        user = 0
        for t in ("src", "dvt", "sink"):
            p = str(self.dir / f"final_{t}.parquet")
            self.con.execute(f"COPY (SELECT * FROM e_{t}) TO '{p}' (FORMAT parquet, COMPRESSION snappy)")
            user += os.path.getsize(p)
        return wh / user

    def end_state(self) -> dict:
        from incubator_paimon_trino_spark.catalog.metadata import load_snapshots

        live = snaps = 0
        for t in ("src", "dvt"):
            ss = load_snapshots(self._tdir(t))
            snaps += len(ss)
            live += len(ss[-1].files) if ss else 0
        return {"live_files_end": live, "snapshots_retained_end": snaps}

    def inputs(self) -> dict:
        return {
            "lineitem_rows": self.n_rows,
            "upsert_rows": self.UPSERT_ROWS,
            "delete_orders": self.DELETE_ORDERS,
            "merge_rows": self.MERGE_ROWS,
            "commits_per_cycle": 9,
            "cycles": self.cycle,
        }

    def close(self) -> None:
        self.con.close()


WORKLOADS = {w.name: w for w in (HeadlineOlap, LakeIngest)}

"""The two workloads: op sets, the seeded op stream and output checks.

``query`` is a stream over registry queries: the star-schema analytics
queries, then the LLM-data queries. One op is
``spec.fn(spark, sf_dir)`` (build) plus ``toPandas()`` (serve). The seed
makes the inputs; the op order is fixed, so the process's first-use
costs (JIT, Python worker start) land on the same op in every run.
Outputs are checked after the run, untimed: the first result of each
distinct query is
compared with its ``spec.oracle`` on DuckDB by the row-count, column
and value-hash rule of ``tools/verify_local.py``.

``lake`` runs a seeded sequence of ``sources.filetable`` verbs on a
fresh lineitem table clustered on ``l_orderkey``. Writes come in a fixed
cycle (append, merge, delete, compact, expire) and each write is
followed by reads: ``scan_range``, a bloom
``point_lookup`` and a time-travel ``read_table(version=...)`` (see
``LAKE_CYCLE``). The seed makes the rows, keys, ranges and versions.
DuckDB replays every write, keeps one table per retained version and
checks every read's rows and the final table as multisets (``EXCEPT
ALL`` both ways), inline and untimed.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from datagen import TABLES, make_tables, write_tables
from spark_iceberg_jobs_spark.functions.cache import cache_scope
from spark_iceberg_jobs_spark.sources import filetable as ft
from tools.verify_local import frame_hash

STAR = (
    "flagship_revenue_topk", "q1_pricing_summary", "q3_shipping_priority",
    "q5_regional_supplier_volume", "q6_forecast_revenue", "q10_returned_items",
    "q21_waiting_suppliers", "copartitioned_join_agg", "events_tumbling_hourly",
    "events_asof_purchase_click", "events_sessionization", "sketch_cms_heavy_hitters",
)
LLM = ("dedup_embedding_cosine_bucketed", "text_bm25_incremental")
QUERY = STAR + LLM

#: One cycle: each write is followed by its reads. Point lookups
#: read the bloom index, which the engine refuses to use once data files
#: have moved; maintenance (``compact``) rebuilds it, so lookups run in
#: the read phase after maintenance. The first cycle runs as listed; every
#: later one runs each write's reads ``WARM_READ_REPEAT`` times, so the
#: steady state holds more reads per (costly) write.
LAKE_CYCLE = (
    ("append", ("scan_range", "time_travel", "scan_range")),
    ("merge", ("scan_range", "time_travel", "time_travel")),
    ("delete", ("scan_range", "time_travel", "scan_range")),
    ("compact", ("scan_range", "point_lookup", "time_travel", "point_lookup")),
    ("expire", ("scan_range", "point_lookup", "time_travel", "point_lookup")),
)
WARM_READ_REPEAT = 2


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why ``got`` differs from ``want`` under verify_local's rule
    (row count, column names, dtype kinds, order-insensitive value
    hash), or None when they agree."""
    if len(got) != len(want):
        return f"rowcount {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    kinds = {
        c: (got[c].dtype.kind, want[c].dtype.kind) for c in got.columns
        if got[c].dtype.kind != want[c].dtype.kind
        and not ({got[c].dtype.kind, want[c].dtype.kind} <= {"i", "u"})
    }
    if kinds:
        return f"dtype kinds {kinds}"
    if frame_hash(got) != frame_hash(want):
        return "value hash mismatch"
    return None


@dataclass
class Op:
    """One call of the stream. ``name`` is the distinct op and ``kind`` is
    "read" or "write". Only ``prepare()``'s result is timed: ``prepare``
    (untimed) makes the inputs and returns ``call(tracer)``, which makes
    the engine calls and returns the served frame (None for a write);
    ``finish(got)`` (untimed) replays or checks it and returns a mismatch
    or None."""

    name: str
    kind: str
    prepare: Callable[[], Callable]
    finish: Callable | None = None


# -- query --------------------------------------------------------------------


class QueryWorkload:
    """The ``QUERY`` stream over inputs staged in ``in_dir``."""

    #: Passes before the steady state (see ``LakeWorkload``). None: a
    #: second pass of 14 queries does not fit the time a run has, so the
    #: figures come from the one, cold pass.
    WARMUP_PASSES = 0

    def __init__(self, spark, reg, in_dir: str):
        self.spark, self.reg = spark, reg
        self.sf_dir = in_dir
        self.first: dict[str, pd.DataFrame] = {}

    @staticmethod
    def stage(seed: int, sf: float, in_dir: str) -> None:
        """Write the inputs."""
        write_tables(make_tables(seed, sf), in_dir)

    def passes(self):
        while True:
            yield [self._op(n) for n in QUERY]

    def _op(self, name: str) -> Op:
        spec = self.reg[name]

        def call(tracer):
            with cache_scope():
                with tracer.span("queries.build", name):
                    df = spec.fn(self.spark, self.sf_dir)
                with tracer.span("queries.serve", name):
                    got = df.toPandas()
                tracer.sample_cache()
                return got

        def finish(got):
            self.first.setdefault(name, got)
            return None

        return Op(name, "read", lambda: call, finish)

    def check(self) -> dict[str, str]:
        """Oracle mismatches of the first result of each distinct query."""
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        bad = {}
        for name, got in self.first.items():
            oracle = self.reg[name].oracle
            if oracle is None:
                why = None if len(got) else "0 rows (no oracle)"
            else:
                why = mismatch(got, con.execute(oracle).fetchdf())
            if why:
                bad[name] = why
        con.close()
        return bad


# -- lake -----------------------------------------------------------------------

KEY = "l_orderkey"
BLOOM_COL = "l_partkey"


@dataclass
class LakeState:
    """What the harness knows about the table besides the table itself."""

    next_key: int
    low_key: int
    span: int
    n_part: int
    versions: list[int] = field(default_factory=list)
    user_bytes: int = 0
    written_bytes: int = 0
    seen_files: dict[str, tuple[int, int]] = field(default_factory=dict)


class LakeWorkload:
    """Verb stream on one table, replayed in DuckDB."""

    #: Passes before the steady state: the first cycle warms the JVM up
    #: (read latency falls by a quarter over it) and makes
    #: ``cold_pass_s``; the read and throughput figures come after it.
    WARMUP_PASSES = 1
    APPEND_ROWS = 3000
    MERGE_UPDATES, MERGE_INSERTS = 70, 30
    KEEP_VERSIONS = 4

    def __init__(self, spark, seed: int, sf: float, run_root: str):
        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.sf = sf
        self.src_dir = os.path.join(run_root, "src")
        self.root = ""
        self.con = duckdb.connect()
        self.n_src = 0
        self.summaries: list[tuple[str, dict]] = []
        self.replay: Callable[[], None] | None = None

    # staging -----------------------------------------------------------------
    def stage(self, table_root: str) -> int:
        """Generate lineitem and create the table; returns the bytes of user
        data submitted. Re-staging replaces the table. The bloom index is
        first built by the first compaction, before any point lookup."""
        li = make_tables(int(self.rng.integers(1 << 31)), self.sf)["lineitem"]
        self.root = table_root
        n_ord = pc.max(li[KEY]).as_py() + 1
        self.state = LakeState(
            next_key=n_ord, low_key=0, span=n_ord,
            n_part=pc.max(li["l_partkey"]).as_py() + 1,
        )
        self.schema = li.schema
        self.con.execute("DROP TABLE IF EXISTS t")
        self.con.register("li_src", li)
        self.con.execute("CREATE TABLE t AS SELECT * FROM li_src")
        self.con.unregister("li_src")
        df = self.spark.read.parquet(self._stage_src(li))
        ft.create_table(df, table_root, stats_cols=[KEY], cluster_by=KEY, n_files=8)
        self.state.user_bytes = li.nbytes
        self._after_write()
        return li.nbytes

    def _stage_src(self, table: pa.Table) -> str:
        path = os.path.join(self.src_dir, f"s{self.n_src}.parquet")
        self.n_src += 1
        os.makedirs(self.src_dir, exist_ok=True)
        pq.write_table(table, path)
        return path

    def _after_write(self, _got=None) -> None:
        """Untimed: replay the verb on the oracle, snapshot the oracle state
        for this version and count the bytes written under the table root."""
        if self.replay is not None:
            self.replay()
            self.replay = None
        v = ft.current_manifest_version(self.root)
        if v not in self.state.versions:
            self.state.versions.append(v)
            self.con.execute(f"CREATE OR REPLACE TABLE v{v} AS SELECT * FROM t")
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                sig = (st.st_size, st.st_mtime_ns)
                if self.state.seen_files.get(p) != sig:
                    self.state.seen_files[p] = sig
                    self.state.written_bytes += st.st_size

    # stream ------------------------------------------------------------------
    def passes(self):
        repeat = 1
        while True:
            ops = []
            for verb, reads in LAKE_CYCLE:
                ops.append(Op(verb, "write", getattr(self, f"_{verb}"), self._after_write))
                ops += [self._read_op(r) for r in reads * repeat]
            yield ops
            repeat = WARM_READ_REPEAT

    def _rows(self, n: int, keys: np.ndarray) -> pa.Table:
        """``n`` fresh lineitem rows on the given order keys."""
        rng = self.rng
        src = make_tables(int(rng.integers(1 << 31)), 0.0005)["lineitem"]
        idx = rng.integers(0, src.num_rows, n)
        t = src.take(pa.array(idx))
        t = t.set_column(t.schema.get_field_index(KEY), KEY, pa.array(keys, pa.int64()))
        part = rng.integers(0, self.state.n_part, n)
        return t.set_column(t.schema.get_field_index("l_partkey"), "l_partkey",
                            pa.array(part, pa.int64()))

    def _timed(self, verb: str, fn, replay: Callable[[], None]):
        """The timed call of a write verb; ``replay`` applies the same
        change to the oracle afterwards, untimed."""

        def call(tracer):
            with tracer.span(f"filetable.{verb}", verb):
                out = fn()
            if verb == "compact":
                with tracer.span("filetable.bloom_build", verb):
                    ft.build_bloom_index(self.spark, self.root, BLOOM_COL)
            self.summaries.append((verb, out if isinstance(out, dict) else {}))
            self.replay = replay

        return call

    def _append(self):
        s = self.state
        keys = s.next_key + self.rng.integers(0, 750, self.APPEND_ROWS)
        s.next_key += 750
        rows = self._rows(self.APPEND_ROWS, keys)
        df = self.spark.read.parquet(self._stage_src(rows))

        def replay():
            s.user_bytes += rows.nbytes
            self.con.register("rows", rows)
            self.con.execute("INSERT INTO t SELECT * FROM rows")
            self.con.unregister("rows")

        return self._timed("append", lambda: ft.append_table(df, self.root, n_files=1), replay)

    def _merge(self):
        from pyspark.sql import functions as F

        s = self.state
        recent = s.next_key - max(s.span // 5, 1)
        live = self.con.execute(
            f"SELECT DISTINCT {KEY} FROM t WHERE {KEY} >= {recent} ORDER BY 1"
        ).fetchnumpy()[KEY]
        upd = self.rng.choice(live, min(self.MERGE_UPDATES, len(live)), replace=False)
        ins = s.next_key + np.arange(self.MERGE_INSERTS)
        s.next_key += self.MERGE_INSERTS
        keys = np.concatenate([upd, ins])
        rows = self._rows(len(keys), keys)
        df = self.spark.read.parquet(self._stage_src(rows))
        cols = rows.schema.names

        def replay():
            s.user_bytes += rows.nbytes
            self.con.register("src", rows)
            self.con.execute(
                "UPDATE t SET l_quantity = src.l_quantity, l_discount = src.l_discount, "
                f"l_tax = src.l_tax FROM src WHERE t.{KEY} = src.{KEY}"
            )
            self.con.execute(
                f"INSERT INTO t SELECT * FROM src WHERE {KEY} NOT IN (SELECT {KEY} FROM t)"
            )
            self.con.unregister("src")

        return self._timed("merge", lambda: ft.merge_into(
            self.spark, self.root, df, on=(KEY, KEY),
            when_matched_update={c: F.col(f"s.{c}") for c in ("l_quantity", "l_discount", "l_tax")},
            when_not_matched_insert={c: F.col(f"s.{c}") for c in cols},
        ), replay)

    def _delete(self):
        s = self.state
        s.low_key += max(s.span // 30, 1)
        cutoff = s.low_key - 1
        return self._timed(
            "delete", lambda: ft.delete_where(self.spark, self.root, KEY, cutoff),
            lambda: self.con.execute(f"DELETE FROM t WHERE {KEY} <= {cutoff}"),
        )

    def _compact(self):
        return self._timed(
            "compact", lambda: ft.compact_table(self.spark, self.root, target_bytes=512 * 1024),
            lambda: None,
        )

    def _expire(self):
        s = self.state

        def replay():
            for v in s.versions[:-self.KEEP_VERSIONS]:
                self.con.execute(f"DROP TABLE v{v}")
            s.versions = s.versions[-self.KEEP_VERSIONS:]

        return self._timed(
            "expire",
            lambda: ft.expire_table(self.root, keep_last=self.KEEP_VERSIONS, spark=self.spark),
            replay,
        )

    def _key_range(self) -> tuple[int, int]:
        s = self.state
        width = max(s.span // 50, 1)
        lo = int(self.rng.integers(s.low_key, max(s.next_key - width, s.low_key + 1)))
        return lo, lo + width

    def _read_op(self, verb: str) -> Op:
        expect: list[str] = []

        def prepare():
            if verb == "scan_range":
                lo, hi = self._key_range()
                expect.append(f"SELECT * FROM t WHERE {KEY} BETWEEN {lo} AND {hi}")

                def call(tracer):
                    tracer.sample_skip(self.root, KEY, lo, hi)
                    with tracer.span("filetable.scan_range", verb):
                        return ft.scan_range(self.spark, self.root, KEY, lo, hi).toPandas()
            elif verb == "point_lookup":
                vals = [int(v) for v in self.rng.integers(0, self.state.n_part, 3)]
                expect.append(f"SELECT * FROM t WHERE {BLOOM_COL} IN ({', '.join(map(str, vals))})")

                def call(tracer):
                    tracer.sample_bloom(self.root, BLOOM_COL, vals)
                    with tracer.span("filetable.point_lookup", verb):
                        return ft.point_lookup(self.spark, self.root, BLOOM_COL, vals).toPandas()
            else:
                old = self.state.versions[:-1] or self.state.versions
                v = old[int(self.rng.integers(0, len(old)))]
                lo, hi = self._key_range()
                expect.append(f"SELECT * FROM v{v} WHERE {KEY} BETWEEN {lo} AND {hi}")

                def call(tracer):
                    with tracer.span("filetable.time_travel", verb):
                        df = ft.read_table(self.spark, self.root, version=v)
                        return df.filter(df[KEY].between(lo, hi)).toPandas()
            return call

        return Op(verb, "read", prepare, lambda got: self._differs(got, expect[-1]))

    # end-of-cycle and end-of-run ---------------------------------------------
    def amplification(self) -> tuple[float, float]:
        """(write_amp, space_amp): bytes written under the table root per
        byte of submitted user data, and bytes on disk under the root per
        byte of live-snapshot data (Arrow size of the oracle's table)."""
        disk = sum(sig[0] for p, sig in self.state.seen_files.items() if os.path.exists(p))
        live = self.con.execute("SELECT * FROM t").fetch_arrow_table().nbytes
        return self.state.written_bytes / self.state.user_bytes, disk / live

    def table_stats(self) -> dict[str, float]:
        manifest_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(self.root, "metadata")) for f in fs
        )
        live_files = sum(
            1 for e in ft.read_manifest(self.root)["entries"] if e.get("kind", "data") == "data"
        )
        rewritten = sum(s.get("files_rewritten", 0) for _, s in self.summaries)
        n_writes = max(sum(1 for v, _ in self.summaries if v != "expire"), 1)
        return {
            "filetable.manifest_bytes": float(manifest_bytes),
            "filetable.live_files": float(live_files),
            "filetable.files_rewritten": rewritten / n_writes,
        }

    def check_final(self) -> str | None:
        return self._differs(ft.read_table(self.spark, self.root).toPandas(), "SELECT * FROM t")

    def _differs(self, got: pd.DataFrame, sql: str) -> str | None:
        """Rows of ``got`` that are not, as a multiset, the rows of ``sql``.
        Exact, unlike ``mismatch``'s rounding hash: both sides hold the
        very values the harness submitted, and DuckDB compares a whole
        table this way in milliseconds."""
        cols = ", ".join(self.schema.names)
        if sorted(got.columns) != sorted(self.schema.names):
            return f"columns {sorted(got.columns)}"
        self.con.register("got", got)
        extra, missing = self.con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL "
            f"SELECT {cols} FROM ({sql}))), (SELECT count(*) FROM (SELECT {cols} "
            f"FROM ({sql}) EXCEPT ALL SELECT {cols} FROM got))"
        ).fetchone()
        self.con.unregister("got")
        return f"{extra} unexpected and {missing} missing rows" if extra or missing else None
